"""Seeded input generators with a built-in oracle.

Pure Python (no Spark import), single process. Every generator takes the
seed and nothing else that varies between runs, so the same seed gives
byte-identical files. While it generates, each CDC generator simulates the
state the pipeline must end in, so the correctness gate needs no second
engine for the structured and curated tables:

* ``ChainOracle`` — the hash-chain fold ``merge_cdc(validate_hash_chain=
  True)`` applies: an event lands only if its before-image equals the live
  row's after-image (equal images hash equal under Spark's Murmur3, and a
  planted broken link differs in one field, so it hashes differently); a D
  removes the row; an I on a missing or deleted key (re)creates it; an I on
  a live key is rejected.
* ``LastWriterOracle`` — the streaming path (``cdc_upsert_frame`` +
  ``merge_write``): the last event per key wins, D removes.

The corpus generator records the exact- and near-duplicate families it
plants; the manifest itself is checked against DuckDB running
``CORPUS_E2E_SQL``.

Run as a script to write one workload's first inputs for inspection:
``python3 perfbench/gen.py --workload cdc_bulk --seed 1 --out /tmp/x``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

# --------------------------------------------------------------- schemas

# (source field, JSON type, target DDL type). Field names are UPPERCASE
# at the CDC edge and lowercase in targets, as in the reference fixtures.
OFFENDER_FIELDS = [
    ("OFFENDER_ID", "long", "int"),
    ("OFFENDER_ID_DISPLAY", "string", "varchar2(10)"),
    ("FIRST_NAME", "string", "varchar2(35)"),
    ("LAST_NAME", "string", "varchar2(35)"),
    ("SEX_CODE", "string", "varchar2(12)"),
    ("TITLE", "string", "varchar2(12)"),
    ("AGE", "long", "int"),
    ("BIRTH_DATE", "string", "date"),
    ("CREATE_DATE", "string", "date"),
    ("MODIFY_DATETIME", "string", "timestamp"),
    ("MODIFY_USER_ID", "string", "varchar2(32)"),
]
BOOKING_FIELDS = [
    ("OFFENDER_BOOK_ID", "long", "int"),
    ("OFFENDER_ID", "long", "int"),
    ("BOOKING_NO", "string", "varchar2(14)"),
    ("AGY_LOC_ID", "string", "varchar2(6)"),
    ("IN_OUT_STATUS", "string", "varchar2(12)"),
    ("ACTIVE_FLAG", "string", "varchar2(1)"),
    ("BOOKING_BEGIN_DATE", "string", "date"),
    ("BOOKING_END_DATE", "string", "date"),
    ("BOOKING_CREATED_DATE", "string", "date"),
    ("MODIFY_DATETIME", "string", "timestamp"),
]


@dataclass(frozen=True)
class TableDef:
    name: str            # logical (and curated catalog) name
    qualified: str       # GoldenGate ``table`` value
    fields: list         # [(source field, JSON type, DDL type)]
    pk: str              # target primary key (lowercase)
    day_col: str         # per-key creation date: stable, partition column

    @property
    def target_ddl(self) -> str:
        # CREATE TABLE form: schema_from_ddl reads a bare column list
        # containing the word "create" (create_date) as a CREATE body
        cols = ", ".join(f"{f.lower()} {ddl}" for f, _j, ddl in self.fields)
        return f"CREATE TABLE {self.name} ({cols})"

    @property
    def target_columns(self) -> list[str]:
        """Columns the oracle fills; ``admin_hash`` (Spark Murmur3) and
        ``admin_event_ts`` (``current_timestamp``) are not simulated."""
        return [f.lower() for f, _j, _d in self.fields] + [
            "admin_gg_pos", "admin_gg_op_ts",
        ]

    def ddl_type(self, column: str) -> str:
        for f, _j, ddl in self.fields:
            if f.lower() == column:
                return ddl.split("(")[0]
        return "varchar2" if column == "admin_gg_pos" else "timestamp"


OFFENDERS = TableDef(
    "offenders", "OMS_OWNER.OFFENDERS", OFFENDER_FIELDS,
    "offender_id", "create_date",
)
BOOKINGS = TableDef(
    "offender_bookings", "OMS_OWNER.OFFENDER_BOOKINGS", BOOKING_FIELDS,
    "offender_book_id", "booking_created_date",
)
TABLES = (OFFENDERS, BOOKINGS)

# Domain definitions in the shape of the reference's domain_table_*.csv:
# (Domain, Dependancies, Target, Resolution). The SQL is valid in both
# Spark and DuckDB, so the gate runs it unchanged over the oracle state.
DOMAINS = [
    (
        "domain1", "offenders,offender_bookings", "domain1_off_book",
        "select offenders.offender_id, "
        "offenders.first_name||' '||offenders.last_name as offender_name, "
        "offender_bookings.in_out_status, "
        "offender_bookings.booking_begin_date, "
        "offender_bookings.booking_end_date "
        "from offenders INNER JOIN offender_bookings "
        "ON offenders.offender_id = offender_bookings.offender_id",
    ),
    (
        "domain2", "offender_bookings", "domain2_agency_population",
        "select agy_loc_id, in_out_status, count(*) as n_bookings "
        "from offender_bookings where active_flag = 'Y' "
        "group by agy_loc_id, in_out_status",
    ),
    (
        "domain3", "offenders", "domain3_offender_titles",
        "select sex_code, title, count(*) as n_offenders, "
        "min(birth_date) as earliest_birth "
        "from offenders group by sex_code, title",
    ),
]

FIRST = ["JOHN", "MARY", "AHMED", "WEI", "OLGA", "PATRICK", "DAVID", "SARA",
         "LUCA", "NINA", "OMAR", "ZOE", "IVAN", "ANA", "KOFI", "MEI"]
LAST = ["SMITH", "MURPHY", "MARTIN", "KHAN", "NOWAK", "JONES", "GARCIA",
        "ROSSI", "MULLER", "SILVA", "OKAFOR", "LI", "BROWN", "TAYLOR"]
TITLES = ["MR", "MRS", "MS", "MISS", "DR", "MX"]
AGENCIES = [f"AG{i:03d}" for i in range(40)]
BASE_DAY = dt.date(2024, 1, 1)


def day_str(day: int) -> str:
    return (BASE_DAY + dt.timedelta(days=day)).isoformat()


def zipf_index(rng: random.Random, n: int) -> int:
    """Index in [0, n) with P(rank k) ~ 1/k (continuous Zipf, s=1): low
    indices are hot keys."""
    return min(int(n ** rng.random()) - 1, n - 1)


def normalise(value, ddl: str):
    """Target value the pipeline's typed cast yields for a source field,
    in the gate's comparison form (dates/timestamps as ISO strings)."""
    if value is None:
        return None
    if ddl == "int":
        return int(value)
    if ddl == "date":
        return str(value)[:10]
    if ddl == "timestamp":
        return str(value)[:26]
    return str(value)


# ----------------------------------------------------------------- oracles

class _Oracle:
    """Expected target state of one table: pk -> (image, pos, op_ts)."""

    def __init__(self, table: TableDef):
        self.table = table
        self.rows: dict[int, tuple[dict, str, str]] = {}
        self.rejected = 0
        self.applied = 0
        self.deleted = 0

    def expected_rows(self) -> dict[int, tuple]:
        """pk -> row tuple in ``table.target_columns`` order."""
        t = self.table
        out = {}
        for key, (image, pos, op_ts) in self.rows.items():
            out[key] = tuple(
                normalise(image.get(f), ddl.split("(")[0])
                for f, _j, ddl in t.fields
            ) + (pos, op_ts[:26])
        return out


class ChainOracle(_Oracle):
    """Hash-chain fold (``merge_cdc(validate_hash_chain=True)``)."""

    def apply_batch(self, events: list[dict]) -> None:
        """Fold one batch. Per key the fold starts from the row already in
        the target and walks the batch's events in ``pos`` order."""
        pk_field = self.table.pk.upper()
        by_key: dict[int, list[dict]] = {}
        for ev in events:
            image = ev["before"] if ev["op_type"] == "D" else ev["after"]
            by_key.setdefault(image[pk_field], []).append(ev)
        for key, evs in by_key.items():
            evs.sort(key=lambda e: e["pos"])
            state = self.rows.get(key)
            deleted = state is None
            for ev in evs:
                op = ev["op_type"]
                if state is not None and not deleted:
                    if ev.get("before") != state[0]:
                        self.rejected += 1
                        continue
                    self.applied += 1
                    if op == "D":
                        deleted = True
                    else:
                        state = (ev["after"], ev["pos"], ev["op_ts"])
                elif op == "I":
                    self.applied += 1
                    state = (ev["after"], ev["pos"], ev["op_ts"])
                    deleted = False
                else:
                    self.rejected += 1
            if state is None:
                continue
            if deleted:
                if self.rows.pop(key, None) is not None:
                    self.deleted += 1
            else:
                self.rows[key] = state


class LastWriterOracle(_Oracle):
    """Last-writer-wins per key (``cdc_upsert_frame`` + ``merge_write``)."""

    def apply_batch(self, events: list[dict]) -> None:
        pk_field = self.table.pk.upper()
        for ev in sorted(events, key=lambda e: e["pos"]):
            self.applied += 1
            if ev["op_type"] == "D":
                if self.rows.pop(ev["before"][pk_field], None) is not None:
                    self.deleted += 1
            else:
                self.rows[ev["after"][pk_field]] = (
                    ev["after"], ev["pos"], ev["op_ts"]
                )


# ------------------------------------------------------------ CDC generator

@dataclass
class Batch:
    """One raw CDC file: its JSON lines and the (table, key) pairs it
    touches."""

    lines: list[str]
    keys_touched: int

    @property
    def n_events(self) -> int:
        return len(self.lines)

    def write(self, path: str) -> int:
        data = ("\n".join(self.lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        return len(data)


class CdcGenerator:
    """GoldenGate JSON batches over ``offenders`` and ``offender_bookings``.

    ``mode="chain"`` (the scheduled-batch case): each mixed batch is about
    70% U on Zipf-skewed live keys, 25% I of new keys, 3% D, 2% I
    resurrecting a deleted key; before-images chain to the previous
    after-image, except ``broken_link`` of U/D events which carry a stale
    image and must be rejected.

    ``mode="churn"`` (the micro-batch case): a batch on day *i* inserts
    new keys created on day *i* and updates/deletes keys created in the
    table's previous batch, so each batch touches two date partitions.
    """

    def __init__(self, seed: int, mode: str, broken_link: float = 0.01):
        if mode not in ("chain", "churn"):
            raise ValueError(f"unknown mode {mode!r}")
        self.rng = random.Random(seed)
        self.mode = mode
        self.broken_link = broken_link if mode == "chain" else 0.0
        oracle = ChainOracle if mode == "chain" else LastWriterOracle
        self.oracles = {t.name: oracle(t) for t in TABLES}
        self.pos = 0
        self.batches = 0
        self.next_key = {t.name: 1 for t in TABLES}
        self.live = {t.name: [] for t in TABLES}         # low index = hot
        self.live_at = {t.name: {} for t in TABLES}      # key -> index
        self.dead = {t.name: [] for t in TABLES}
        self.by_day = {t.name: {} for t in TABLES}       # day -> keys
        self.images: dict[str, dict[int, dict]] = {t.name: {} for t in TABLES}
        self.created_day = {t.name: {} for t in TABLES}  # key -> day
        self.last_day = {t.name: -1 for t in TABLES}     # of the last batch

    # -- key bookkeeping (the generator's own view of live rows) ----------
    def _add_live(self, table: str, key: int) -> None:
        self.live_at[table][key] = len(self.live[table])
        self.live[table].append(key)

    def _drop_live(self, table: str, key: int) -> None:
        live, at = self.live[table], self.live_at[table]
        i = at.pop(key)
        last = live.pop()
        if last != key:
            live[i] = last
            at[last] = i

    # -- images -----------------------------------------------------------
    def _ts(self, day: int) -> str:
        r = self.rng
        return f"{day_str(day)} {r.randrange(24):02d}:{r.randrange(60):02d}:" \
               f"{r.randrange(60):02d}.{r.randrange(10**6):06d}"

    def _new_image(self, table: TableDef, key: int, day: int) -> dict:
        r = self.rng
        ts = self._ts(day)
        if table is OFFENDERS:
            age = r.randrange(18, 90)
            return {
                "OFFENDER_ID": key,
                "OFFENDER_ID_DISPLAY": f"A{key:07d}",
                "FIRST_NAME": r.choice(FIRST),
                "LAST_NAME": r.choice(LAST),
                "SEX_CODE": r.choice(("M", "F", "X")),
                "TITLE": r.choice(TITLES),
                "AGE": age,
                "BIRTH_DATE": f"{2024 - age}-{r.randrange(1, 13):02d}-"
                              f"{r.randrange(1, 29):02d}",
                "CREATE_DATE": day_str(day),
                "MODIFY_DATETIME": ts,
                "MODIFY_USER_ID": f"USER{r.randrange(500)}",
            }
        offenders = self.live[OFFENDERS.name]
        begin = day_str(day - r.randrange(0, 400))
        return {
            "OFFENDER_BOOK_ID": key,
            "OFFENDER_ID": offenders[zipf_index(r, len(offenders))]
            if offenders else 0,
            "BOOKING_NO": f"B{key:09d}",
            "AGY_LOC_ID": r.choice(AGENCIES),
            "IN_OUT_STATUS": r.choice(("IN", "OUT")),
            "ACTIVE_FLAG": r.choice(("Y", "Y", "N")),
            "BOOKING_BEGIN_DATE": begin,
            "BOOKING_END_DATE": None,
            "BOOKING_CREATED_DATE": day_str(day),
            "MODIFY_DATETIME": ts,
        }

    def _updated(self, table: TableDef, image: dict, day: int) -> dict:
        r = self.rng
        new = dict(image)
        new["MODIFY_DATETIME"] = self._ts(day)
        if table is OFFENDERS:
            new["TITLE"] = r.choice(TITLES)
            new["MODIFY_USER_ID"] = f"USER{r.randrange(500)}"
        else:
            new["IN_OUT_STATUS"] = r.choice(("IN", "OUT"))
            new["AGY_LOC_ID"] = r.choice(AGENCIES)
            new["BOOKING_END_DATE"] = r.choice((None, day_str(day)))
        return new

    # -- events -----------------------------------------------------------
    def _event(self, table: TableDef, op: str, day: int,
               before: dict | None, after: dict | None) -> dict:
        self.pos += 1
        op_ts = self._ts(day)
        ev = {
            "table": table.qualified,
            "op_type": op,
            "op_ts": op_ts,
            "current_ts": op_ts,
            "pos": f"{self.pos:020d}",
            "tokens": {"R": f"AAD{self.pos:013X}"},
        }
        if before is not None:
            ev["before"] = before
        if after is not None:
            ev["after"] = after
        return ev

    def _insert(self, table: TableDef, day: int) -> dict:
        name = table.name
        key = self.next_key[name]
        self.next_key[name] += 1
        image = self._new_image(table, key, day)
        self.images[name][key] = image
        self._add_live(name, key)
        self.created_day[name][key] = day
        self.by_day[name].setdefault(day, []).append(key)
        return self._event(table, "I", day, None, image)

    def _change(self, table: TableDef, op: str, key: int, day: int) -> dict:
        name = table.name
        current = self.images[name][key]
        before = current
        if self.broken_link and self.rng.random() < self.broken_link:
            before = dict(current, MODIFY_DATETIME="1999-01-01 00:00:00.000000")
            after = self._updated(table, current, day) if op == "U" else None
            return self._event(table, op, day, before, after)  # rejected
        if op == "D":
            self._drop_live(name, key)
            self.dead[name].append(key)
            del self.images[name][key]
            return self._event(table, "D", day, before, None)
        after = self._updated(table, current, day)
        self.images[name][key] = after
        return self._event(table, "U", day, before, after)

    def _resurrect(self, table: TableDef, day: int) -> dict:
        name = table.name
        dead = self.dead[name]
        key = dead.pop(self.rng.randrange(len(dead)))
        # keep the key's creation day: the partition column is per-key stable
        image = self._new_image(table, key, self.created_day[name][key])
        image["MODIFY_DATETIME"] = self._ts(day)
        self.images[name][key] = image
        self._add_live(name, key)
        return self._event(table, "I", day, None, image)

    def _mixed_event(self, table: TableDef, day: int) -> dict:
        name = table.name
        u = self.rng.random()
        live = self.live[name]
        if self.mode == "churn":
            prev = self.by_day[name].get(self.last_day[name], ())
            key = prev[zipf_index(self.rng, len(prev))] if prev else None
            if u < 0.70 or key not in self.live_at[name]:
                return self._insert(table, day)
            return self._change(table, "D" if u >= 0.97 else "U", key, day)
        if u < 0.70 and live:
            return self._change(table, "U", live[zipf_index(self.rng, len(live))], day)
        if u < 0.95 or not live:
            return self._insert(table, day)
        if u < 0.98:
            return self._change(table, "D", live[zipf_index(self.rng, len(live))], day)
        if self.dead[name]:
            return self._resurrect(table, day)
        return self._insert(table, day)

    def _finish(self, events: list[tuple[TableDef, dict]]) -> Batch:
        per_table: dict[str, list[dict]] = {t.name: [] for t in TABLES}
        keys = set()
        for table, ev in events:
            per_table[table.name].append(ev)
            image = ev["before"] if ev["op_type"] == "D" else ev["after"]
            keys.add((table.name, image[table.pk.upper()]))
        for name, evs in per_table.items():
            self.oracles[name].apply_batch(evs)
        self.batches += 1
        lines = [json.dumps(ev, separators=(",", ":")) for _t, ev in events]
        return Batch(lines, len(keys))

    def seed_batch(self, n_offenders: int, n_bookings: int,
                   days: int = 1) -> Batch:
        """Inserts only: the initial population, created over ``days``
        days ending the day before batch 0."""
        events = []
        for table, n in ((OFFENDERS, n_offenders), (BOOKINGS, n_bookings)):
            for i in range(n):
                day = -days + (i * days) // n
                events.append((table, self._insert(table, day)))
        return self._finish(events)

    def mixed_batch(self, n_events: int, tables=TABLES) -> Batch:
        """The next batch, over ``tables`` (one file per table is the
        GoldenGate trail layout), dated day ``batches``: one day per
        batch."""
        day = self.batches
        events = []
        for _ in range(n_events):
            table = tables[self.rng.randrange(len(tables))]
            events.append((table, self._mixed_event(table, day)))
        for table in tables:
            self.last_day[table.name] = day
        return self._finish(events)


# --------------------------------------------------------- corpus generator

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
             "was", "for", "on", "with", "as", "at", "by", "it", "be", "this"]
SOURCES = ["web", "books", "news", "forums", "papers"]


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]          # (doc_id, source, text)
    exact_families: list[list[int]]           # ids sharing one text
    near_families: list[list[int]]            # ids of lightly edited copies
    gate_failures: list[int]                  # ids planted to fail a gate

    def to_bytes(self) -> bytes:
        """The corpus as JSON lines, the form the pipeline reads."""
        return "".join(
            json.dumps({"doc_id": i, "source": s, "text": t},
                       separators=(",", ":")) + "\n"
            for i, s, t in self.docs
        ).encode()

    def write(self, path: str) -> int:
        data = self.to_bytes()
        with open(path, "wb") as fh:
            fh.write(data)
        return len(data)


def _word(rng: random.Random) -> str:
    consonants, vowels = "bcdfghjklmnprstvwz", "aeiou"
    n = rng.randrange(2, 5)
    return "".join(rng.choice(consonants) + rng.choice(vowels)
                   for _ in range(n)) + rng.choice(("", "s", "n", "r"))


def generate_corpus(seed: int, n_docs: int, vocab: int = 60_000) -> Corpus:
    """``n_docs`` documents over several sources. About 5% are exact
    copies of another document, 6% lightly edited copies (Jaccard well
    above 0.8 on distinct tokens), and 4% fail a Gopher gate (too short,
    mostly non-alphabetic, or no stopwords)."""
    rng = random.Random(seed)
    words = []
    seen = set()
    while len(words) < vocab:
        w = _word(rng)
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            words.append(w)

    def text() -> list[str]:
        out = []
        for _ in range(rng.randrange(40, 160)):
            if rng.random() < 0.3:
                out.append(rng.choice(STOPWORDS))
            else:
                out.append(words[zipf_index(rng, vocab)])
        return out

    ids = rng.sample(range(1, n_docs * 20), n_docs)
    docs: list[tuple[int, str, str]] = []
    exact: list[list[int]] = []
    near: list[list[int]] = []
    failures: list[int] = []
    i = 0
    while i < n_docs:
        u = rng.random()
        source = rng.choice(SOURCES)
        if u < 0.04:
            kind = rng.randrange(3)
            if kind == 0:
                toks = text()[:3]
            elif kind == 1:
                toks = [f"{rng.randrange(10**6)}#" for _ in range(30)] + ["the", "of"]
            else:
                toks = [words[zipf_index(rng, vocab)] for _ in range(50)]
            docs.append((ids[i], source, " ".join(toks)))
            failures.append(ids[i])
            i += 1
            continue
        base = text()
        docs.append((ids[i], source, " ".join(base)))
        family = [ids[i]]
        i += 1
        if u < 0.09:  # exact-duplicate family
            for _ in range(rng.randrange(1, 4)):
                if i >= n_docs:
                    break
                docs.append((ids[i], rng.choice(SOURCES), " ".join(base)))
                family.append(ids[i])
                i += 1
            exact.append(family)
        elif u < 0.15:  # near-duplicate family: ~2% of tokens replaced
            for _ in range(rng.randrange(1, 4)):
                if i >= n_docs:
                    break
                toks = list(base)
                for _ in range(max(1, len(toks) // 50)):
                    toks[rng.randrange(len(toks))] = words[rng.randrange(vocab)]
                docs.append((ids[i], rng.choice(SOURCES), " ".join(toks)))
                family.append(ids[i])
                i += 1
            near.append(family)
    return Corpus(docs, exact, near, failures)


# --------------------------------------------------------------------- CLI

def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_bulk", "cdc_stream", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=3)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "corpus_prep":
        generate_corpus(args.seed, 2000).write(os.path.join(args.out, "docs.json"))
        return
    gen = CdcGenerator(args.seed, "chain" if args.workload == "cdc_bulk" else "churn")
    gen.seed_batch(1000, 1000).write(os.path.join(args.out, "seed.json"))
    for b in range(args.batches):
        gen.mixed_batch(500).write(os.path.join(args.out, f"b{b:03d}.json"))


if __name__ == "__main__":
    main()
