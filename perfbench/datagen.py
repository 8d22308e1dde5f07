"""Seeded input generators for the benchmark.

Two families, both deterministic in ``seed``:

- ``write_registry_tables``: the ten TPC-H-ish + extension tables the
  query registry reads (``schemas.BENCH_TABLES``), with the column
  types, value domains and scale-factor row counts of the fixtures
  described in FIXTURES.md section B.
- ``soccer_batches``: scraper-shaped row batches for four of the
  reference's soccer tables (``schemas.SOCCER_TABLES``), shaped as
  FIXTURES.md section A describes, where later batches re-ingest
  earlier primary keys with changed values, plus the expected
  latest-wins table state.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(lo: str, hi: str) -> tuple[int, int]:
    epoch = dt.date(1970, 1, 1)
    return (dt.date.fromisoformat(lo) - epoch).days, (dt.date.fromisoformat(hi) - epoch).days


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    us = rng.integers(a, b + 1, n).astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def registry_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The registry's input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-04")})
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    vec = rng.standard_normal((n_vecs, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)})
    return t


def write_registry_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write the registry tables as ``<out_dir>/<name>.parquet``;
    returns the total bytes written. ``python3 datagen.py <out_dir> <sf>
    <seed>`` does the same and prints the byte count."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in registry_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# --- soccer-domain batches ---------------------------------------------------
#
# The shape follows FIXTURES.md section A: about 15 bookmakers with a skewed
# row count and an exact tie at rank 10 (A4), games missing from the odds
# tables so the training join's drop-any-null removes rows (A4), an
# over/under id set that overlaps the odds one without matching it (A5), a
# few NULL odds and unknown labels (A2, A4), and about 7.5 odds rows and 6
# over/under rows per game (A "Sizing": 150k and 120k rows for 20k games).

COMPANIES = [f"Book{i:02d}" for i in range(15)]
#: quote probability of each book for a game present in a table: ranks 1-9
#: skewed downwards, then Book09 and Book10, which share one draw so they
#: quote the same games and tie exactly at rank 10, then a sparse tail.
TOP9 = [0.995, 0.99, 0.985, 0.98, 0.975, 0.97, 0.965, 0.96, 0.955]
TIE = 0.9
TAIL = [0.5, 0.3, 0.2, 0.1]
#: share of games with any game_odds row, and with any game_overunder row
#: given that they have odds rows or not.
P_ODDS = 0.65
P_OU = {True: 0.72, False: 0.15}
#: share of odds values scraped as NULL.
P_NULL = 0.001
LINES = ["0.5", "0.5/1", "-0.25", "0/0.5", "1", "0.75"]
OU_LINES = ["2.5", "2.5/3", "2/2.5", "3"]
FLAT_LABELS = {"3", "1", "0"}
OU_LABELS = {"1", "0"}


def _game_row(rng: random.Random, gid: str, host: str, guest: str) -> list:
    # half of the games go over 2.5 goals, so each over/under label is
    # about half of a training split
    hs, gs = rng.randint(0, 3), rng.randint(0, 2)
    wdl = "Win" if hs > gs else ("Draw" if hs == gs else "Loss")
    ou = "Over" if hs + gs > 2 else "Under"
    if rng.random() < 0.02:
        wdl = rng.choice(["", "Unknown", None])
    if rng.random() < 0.02:
        ou = rng.choice(["Unknown", None])
    return [gid, "EPL", f"2019-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            f"{rng.randint(12, 21)}:00", host, f"{hs}-{gs}", guest,
            f"{rng.randint(0, 2)}-{rng.randint(0, 2)}", rng.choice(LINES), ou, wdl]


def _quote(rng: random.Random, lo: float, hi: float) -> str | None:
    value = f"{rng.uniform(lo, hi):.2f}"
    return None if rng.random() < P_NULL else value


def _odds_row(rng: random.Random, gid: str, comp: str) -> list:
    return [gid, comp] + [_quote(rng, 1.2, 6.0) for _ in range(6)]


def _ou_row(rng: random.Random, gid: str, comp: str) -> list:
    line = rng.choice(OU_LINES)
    q = [_quote(rng, 0.8, 1.1) for _ in range(4)]
    return [gid, comp, q[0], line, q[1], q[2], line, q[3]]


def _quoting(rng: random.Random) -> list[str]:
    """The books that quote one game in one table."""
    out = [c for c, p in zip(COMPANIES, TOP9) if rng.random() < p]
    if rng.random() < TIE:
        out += COMPANIES[9:11]
    out += [c for c, p in zip(COMPANIES[11:], TAIL) if rng.random() < p]
    return out


def soccer_batches(seed: int, n_teams: int, n_games: int, n_batches: int,
                   reingest: float) -> tuple[list[dict[str, list[list]]], dict[str, dict]]:
    """Scraper-shaped batches and the expected final table state.

    Games are split over ``n_batches`` scrape rounds. Round ``b``
    carries the rows of its own new games and, for a ``reingest`` share
    of the odds and over/under keys of earlier rounds, fresh quotes
    under the same ``(id, odds_company)``. No batch repeats a primary
    key, so the latest batch holding a key decides its row.

    Returns ``(batches, latest)`` where ``batches[b][table]`` is the
    row list of batch ``b`` and ``latest[table]`` maps each primary key
    to ``(batch, row)`` after all batches.
    """
    rng = random.Random(seed)
    teams = [(str(i), f"Team {i}") for i in range(1, n_teams + 1)]
    names = [n for _, n in teams]
    per = n_games // n_batches
    step = 300_000 // n_games  # ids span 1,400,000-1,700,000 (FIXTURES A2)
    batches: list[dict[str, list[list]]] = []
    latest: dict[str, dict] = {t: {} for t in
                               ("team_list", "game_record", "game_odds", "game_overunder")}
    make = {"game_odds": _odds_row, "game_overunder": _ou_row}
    for b in range(n_batches):
        batch = {"team_list": [], "game_record": [], "game_odds": [], "game_overunder": []}
        if b == 0:
            batch["team_list"] = [[tid, name] for tid, name in teams]
        for table, row_of in make.items():
            batch[table] = [row_of(rng, gid, comp) for gid, comp in latest[table]
                            if rng.random() < reingest]
        for g in range(per):
            gid = str(1_400_000 + (b * per + g) * step)
            host, guest = rng.sample(names, 2)
            batch["game_record"].append(_game_row(rng, gid, host, guest))
            in_odds = rng.random() < P_ODDS
            for table, present in (("game_odds", in_odds),
                                   ("game_overunder", rng.random() < P_OU[in_odds])):
                if present:
                    batch[table] += [make[table](rng, gid, c) for c in _quoting(rng)]
        for table, rows in batch.items():
            for row in rows:
                key = (row[0],) if table in ("team_list", "game_record") else (row[0], row[1])
                latest[table][key] = (b, row)
        batches.append(batch)
    return batches, latest


if __name__ == "__main__":
    print(write_registry_tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
