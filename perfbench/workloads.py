"""The benchmark's workloads, driven through the program's public
entry points: ``__spark_entry__.queries()`` / ``oracle_sql()``,
``sources.ingest`` / ``sources.upsert`` and ``api.SoccerPredictor``.

One ``Run`` holds one process's state: its seed, time budget, work
directory, tracer and the operations it timed. Each workload sets up
a fresh session ``SETUP_REPS`` times (a new JVM each time), keeps the
last one, and repeats passes over its operations until the time budget
is spent; the first pass always completes, and every output check is
made outside the timed spans.

No chosen query leaves a ``plan_keyed_cache`` entry, so set-up
pre-warms no family cache and ``session.prewarm_s`` reports 0.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import datagen
from metrics import dir_bytes, row_bytes, tree_hwm_mb
from tracer import Tracer, plan_phases

#: cold set-ups per run, each one ``setup_s`` sample; a new JVM costs about
#: 5 s, and the run budget of three workloads leaves room for two.
SETUP_REPS = 2
HERE = os.path.dirname(os.path.abspath(__file__))


def load_sets() -> dict:
    with open(os.path.join(HERE, "registry_sets.json")) as f:
        return json.load(f)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(traced)
        self.failures: list[dict] = []
        self.setup_walls: list[float] = []
        self.passes = 0
        self.info: dict = {}

    def fail(self, name: str, why: str) -> None:
        self.failures.append({"op": name, "error": why[:300]})

    def ops(self) -> list[dict]:
        return [s for s in self.tracer.spans if s["layer"] == "op"]


# --- session lifecycle -------------------------------------------------------

def start_session(run: Run):
    from soccerpredictor_spark.session import get_spark

    with run.tracer.span("session.start", "get_spark"):
        spark = get_spark("perfbench")
    run.tracer.bind(spark)
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so
    the next session (or the end of the run) starts from nothing."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(run: Run, warm, between=None) -> object:
    """``SETUP_REPS`` cold set-ups, each a new JVM plus ``warm(spark)``;
    returns the last session. Each rep's wall is one ``setup_s`` sample.
    ``between()`` runs after a rep's session is stopped, untimed."""
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            stop_session(spark)
            if between is not None:
                between()
        with run.tracer.span("setup", f"rep{rep}") as sp:
            spark = start_session(run)
            warm(spark)
        run.setup_walls.append(sp["end"] - sp["start"])
        gc.collect()
    return spark


def measure(run: Run, spark, one_pass) -> None:
    """Repeat ``one_pass(p, deadline)`` until the budget is spent; the
    first pass runs to completion whatever the budget. Records the
    process tree's peak resident size at the end."""
    t0 = time.perf_counter()
    run.info["measure_t0"] = t0
    deadline = t0 + run.seconds
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        one_pass(p, None if p == 0 else deadline)
        p += 1
    run.passes = p
    run.info["measure_s"] = time.perf_counter() - t0
    run.info["peak_rss_mb"] = tree_hwm_mb()


# --- registry workloads ------------------------------------------------------

def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_check(cols: list[str], out: str, sql: str, con) -> tuple[bool, str, int]:
    """Compare a query's rows, written by Spark to parquet at ``out``,
    with its DuckDB twin on the same inputs: same column names, same
    row count and the same multiset of rows (an order-insensitive
    comparison made by DuckDB). Returns (ok, reason, rows)."""
    cols = sorted(cols)
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE twin AS {sql}")
    twin_cols = sorted(c for c, *_ in con.execute("DESCRIBE twin").fetchall())
    if twin_cols != cols:
        return False, f"columns {cols} vs {twin_cols}", -1
    n_twin = con.execute("SELECT count(*) FROM twin").fetchone()[0]
    if not glob.glob(os.path.join(out, "*.parquet")):
        return n_twin == 0, f"rows 0 vs {n_twin}", 0
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_parquet('{out}/*.parquet')")
    n = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if n != n_twin:
        return False, f"rows {n} vs {n_twin}", n
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM twin) "
        f"UNION ALL (SELECT {sel} FROM twin EXCEPT ALL SELECT {sel} FROM got))").fetchone()[0]
    return diff == 0, f"{diff} rows differ", n


def registry(run: Run, sf: float, names: list[str], warm_query: str, after_op=None) -> dict:
    """Time ``names`` (build + no-op action each) over generated tables
    at ``sf``. Returns per-query records of the first pass.

    Every first-pass output is written to parquet, untimed, right after
    its query; DuckDB compares them with the twins once the measurement
    and its memory sample are done. ``after_op(name, record)`` runs
    untimed after each first-pass query."""
    data = os.path.join(run.work, "data")
    t0 = time.perf_counter()
    # a child process makes the inputs, so their arrays never count in
    # the driver's peak resident size
    made = subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), data, str(sf),
                           str(run.seed)], check=True, stdout=subprocess.PIPE, text=True)
    run.info["input_bytes"] = int(made.stdout)
    run.info["datagen_s"] = time.perf_counter() - t0
    run.info["sf"] = sf
    tr = run.tracer
    if run.traced:
        # the modules bind read_table by name at import: patch first
        from soccerpredictor_spark.sources import catalog

        tr.wrap(catalog, "read_table", "catalog.read_table")

    def warm(spark):
        import __spark_entry__ as entry

        qs = entry.queries()
        with tr.span("session.warm", "footers"):
            for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
                if name == "events":
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                spark.read.parquet(os.path.join(data, f"{name}.parquet")).count()
            qs[warm_query](spark, data).write.format("noop").mode("overwrite").save()

    def between():
        from soccerpredictor_spark.operators import scale

        scale.clear_caches()

    spark = set_up(run, warm, between)
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    first: dict[str, dict] = {}
    outputs: dict[str, tuple[dict, list[str], str]] = {}

    def one_pass(p: int, deadline):
        for name in names:
            if deadline is not None and time.perf_counter() >= deadline:
                return
            df = None
            with tr.span("op", name, kind="query", pass_=p) as op:
                try:
                    with tr.span("build", name, group=True):
                        df = qs[name](spark, data)
                    if run.traced:
                        with tr.span("plan", name, group=True) as sp:
                            sp["phases"] = plan_phases(df)
                    with tr.span("exec", name, group=True):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - one failing query must not end the run
                    op["error"] = f"{type(e).__name__}: {e}"
            tr.collect()
            if "error" in op:
                run.fail(name, op["error"])
            elif p == 0:
                first[name] = {"wall": op["end"] - op["start"]}
                out = os.path.join(run.work, "check", name)
                with tr.span("check", name, group=True):
                    try:
                        df.write.mode("overwrite").parquet(out)
                        outputs[name] = (op, df.columns, out)
                    except Exception as e:  # noqa: BLE001 - a check that cannot run fails
                        op["check_failed"] = f"{type(e).__name__}: {e}"
                        run.fail(name, f"output check: {op['check_failed']}")
                tr.collect()
                if after_op is not None:
                    after_op(name, first[name])
            del df
            gc.collect()

    measure(run, spark, one_pass)
    con = duck(data)
    for name, (op, cols, out) in outputs.items():
        try:
            ok, why, n = oracle_check(cols, out, oracles[name], con)
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            ok, why, n = False, f"{type(e).__name__}: {e}", -1
        first[name].update(rows=n, oracle_ok=ok)
        if not ok:
            op["check_failed"] = why
            run.fail(name, f"output check: {why}")
    con.close()
    from soccerpredictor_spark.operators import scale
    from soccerpredictor_spark.operators.joins import drop_scratch_databases

    with tr.span("teardown", "registry"):
        run.info["storage_mb"] = sum(
            r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) / 2**20
        run.info["cache_entries"] = scale.clear_caches()
        drop_scratch_databases(spark)
        spark.catalog.clearCache()
        stop_session(spark)
    return first


def pick_fixed_cost(pool: dict[str, list[str]], per_module: int, seed: int) -> list[str]:
    """Seeded stratified sample: ``per_module`` queries from every
    operator module's pool (all of a smaller pool), in seeded order
    within each module. The modules themselves run in a fixed order,
    those with a one-query pool first: a new JVM runs its first queries
    2-4x slower than later ones, and that penalty must fall on the same
    queries in every run, not on whichever the seed drew."""
    rng = random.Random(seed)
    names = []
    for module in sorted(pool, key=lambda m: (len(pool[m]), m)):
        members = sorted(pool[module])
        names += rng.sample(members, min(per_module, len(members)))
    return names


def seeded_order(names: list[str], seed: int) -> list[str]:
    out = sorted(names)
    random.Random(seed).shuffle(out)
    return out


# --- soccer ingest -> train -> predict ----------------------------------------

#: FIXTURES.md section A "Sizing" (20k games, 150k odds and 120k
#: over/under rows, ~10 % re-ingest) scaled by 1/10; its 500 teams by
#: 1/100, so that the trained team keeps about 400 home games and 60-110
#: of them survive the training join's drop-any-null. With fewer, the
#: fit's job count, and so its wall, depends on the seed, and the 40 %
#: training split can hold a single label (README).
SOCCER_SHAPE = {"n_teams": 5, "n_games": 2000, "n_batches": 4, "reingest": 0.1}
#: (task, team_id, venue) models trained and then used per pass. The
#: 3-class "flat" task (OneVsRest over three 100-round GBT fits, ~25 s a
#: call on 4 cores) does not fit the run's time budget beside the rest;
#: add ("flat", "1", 0) here to time it too.
SOCCER_KEYS = [("overunder", "1", 0)]
MIN_ID = {"flat": 1600000, "overunder": 1500000}
TABLE_ORDER = ("team_list", "game_record", "game_odds", "game_overunder")


def _md5_sum(rows) -> int:
    """Order-insensitive digest: sum of 60-bit md5 prefixes of the
    rows' fields joined by \\x1f, NULL spelled \\x00."""
    total = 0
    for r in rows:
        s = "\x1f".join("\x00" if v is None else str(v) for v in r)
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return total


def _table_digest(df, cols: list[str], pk: tuple[str, ...]) -> tuple[int, int, int]:
    """(rows, distinct PKs, digest) of a table, computed by Spark with
    the same digest as ``_md5_sum``."""
    from pyspark.sql import functions as F

    row = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)), F.count_distinct(*[F.col(c) for c in pk]),
               F.sum(h)).collect()[0]
    return int(r[0]), int(r[1]), int(r[2] or 0)


def _top10(odds_rows: list[list]) -> list[str]:
    counts: dict[str, int] = {}
    for r in odds_rows:
        counts[r[1]] = counts.get(r[1], 0) + 1
    return [c for c, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]


def expected_predict_ids(state: dict, team: str, hg: int, min_id: int) -> set[str]:
    """Games the predictor must score: the team's games at the venue
    past ``min_id`` that have a quote from a top-10 odds company."""
    name = f"Team {team}"
    col = 4 if hg == 0 else 6
    games = {k[0] for k, (_b, r) in state["game_record"].items()
             if r[col] == name and int(r[0]) > min_id}
    top = set(_top10([r for _b, r in state["game_odds"].values()]))
    return {k[0] for k in state["game_odds"] if k[0] in games and k[1] in top}


def soccer_inputs() -> dict:
    """What the recorded accuracies depend on besides seed, estimator
    and core count."""
    return json.loads(json.dumps({"shape": SOCCER_SHAPE, "keys": SOCCER_KEYS}))


def accuracy_key(estimator: str, nproc: int) -> str:
    return f"{estimator}/{nproc}"


def same_accuracy_as_recorded(run: Run, accuracy: dict[str, float]) -> None:
    """Seeded training must give the holdout accuracy recorded in
    ``soccer_accuracy.json`` for this seed, estimator and core count
    (both change randomSplit and the fit). A seed with no record is
    not checked, and the detail line says so."""
    with open(os.path.join(HERE, "soccer_accuracy.json")) as f:
        record = json.load(f)
    if record["inputs"] != soccer_inputs():
        run.fail("soccer_accuracy.json", "recorded for other inputs; run record_accuracy.py")
        return
    key = accuracy_key(run.info["estimator"], len(os.sched_getaffinity(0)))
    want = record["accuracy"].get(key, {}).get(str(run.seed))
    run.info["accuracy_recorded"] = want
    for name, acc in accuracy.items():
        if want is not None and want.get(name) != acc:
            run.fail(name, f"accuracy {acc}, recorded {want.get(name)}")


def soccer(run: Run) -> None:
    from pyspark.sql import functions as F

    from soccerpredictor_spark.schemas import SOCCER_TABLES

    batches, _latest = datagen.soccer_batches(run.seed, **SOCCER_SHAPE)
    run.info["soccer_shape"] = dict(SOCCER_SHAPE)
    run.info["batch_rows"] = sum(len(rows) for b in batches for rows in b.values())
    tr = run.tracer
    from soccerpredictor_spark.ml import pipeline as ML

    if run.traced:
        from pyspark.ml import Pipeline
        from pyspark.ml.util import JavaMLWriter, MLWriter

        def plan_features(features, *_a, **_k):
            with tr.span("plan", "train_features") as sp:
                sp["phases"] = plan_phases(features)

        tr.wrap(ML, "train_model", "ml.train_model", before=plan_features)
        tr.wrap(ML, "load_model", "predict.load")
        tr.wrap(Pipeline, "fit", "ml.fit")
        # a pipeline of JVM-only stages saves through JavaMLWriter, which
        # overrides save; one with Python stages (OneVsRest) through MLWriter
        tr.wrap(MLWriter, "save", "ml.save")
        tr.wrap(JavaMLWriter, "save", "ml.save")

    def warm(spark):
        from soccerpredictor_spark.sources.ingest import rows_to_df

        with tr.span("session.warm", "ingest"):
            df = rows_to_df(spark, "team_list", [["0", "Warm"]])
            df.write.format("noop").mode("overwrite").save()

    spark = set_up(run, warm)
    from soccerpredictor_spark.api import SoccerPredictor
    from soccerpredictor_spark.sources.catalog import read_any
    from soccerpredictor_spark.sources.ingest import rows_to_df
    from soccerpredictor_spark.sources.upsert import upsert

    run.info["estimator"] = ", ".join(sorted({
        ML._estimator(3 if task == "flat" else 2).__class__.__name__
        for task, _team, _hg in SOCCER_KEYS}))
    accuracies: dict[str, list[float]] = {}
    written: list[tuple[int, int]] = []

    def one_pass(p: int, _deadline):
        root = os.path.join(run.work, "soccer")
        shutil.rmtree(root, ignore_errors=True)
        tables, models = os.path.join(root, "tables"), os.path.join(root, "Models")
        state: dict[str, dict] = {t: {} for t in TABLE_ORDER}
        for b, batch in enumerate(batches):
            for table in TABLE_ORDER:
                rows = batch[table]
                if not rows:
                    continue
                name = f"upsert:{table}#{b}"
                with tr.span("op", name, kind="upsert", pass_=p, rows=len(rows)) as op:
                    try:
                        with tr.span("upsert", name, group=True):
                            df = rows_to_df(spark, table, rows).withColumn(
                                "scrape_seq", F.lit(b).cast("long"))
                            upsert(spark, tables, table, df, seq_col="scrape_seq")
                    except Exception as e:  # noqa: BLE001
                        op["error"] = f"{type(e).__name__}: {e}"
                tr.collect()
                if "error" in op:
                    run.fail(name, op["error"])
                    continue
                pk = SOCCER_TABLES[table][1]
                for r in rows:
                    key = tuple(r[: len(pk)])
                    state[table][key] = (b, r)
                path = os.path.join(tables, table)
                written.append((dir_bytes(path), row_bytes(rows)))
                with tr.span("check", name, group=True):
                    cols = [f.name for f in SOCCER_TABLES[table][0]] + ["scrape_seq"]
                    got = _table_digest(read_any(spark, path), cols, pk)
                tr.collect()
                want_rows = [r + [str(bb)] for bb, r in state[table].values()]
                want = (len(want_rows), len(want_rows), _md5_sum(want_rows))
                if got != want:
                    op["check_failed"] = f"table state {got} vs {want}"
                    run.fail(name, op["check_failed"])
        frames = {t: read_any(spark, os.path.join(tables, t)) for t in TABLE_ORDER}
        predictor = SoccerPredictor(spark, frames["team_list"], frames["game_record"],
                                    frames["game_odds"], frames["game_overunder"],
                                    models_dir=models)
        for task, team, hg in SOCCER_KEYS:
            name = f"train_{task}:{team}_{hg}"
            with tr.span("op", name, kind="train", pass_=p) as op:
                try:
                    with tr.span("features", name, group=True):
                        fn = predictor.train_flat if task == "flat" else predictor.train_overunder
                        acc = fn(team, hg)
                except Exception as e:  # noqa: BLE001
                    op["error"] = f"{type(e).__name__}: {e}"
            tr.collect()
            if "error" in op:
                run.fail(name, op["error"])
                continue
            accuracies.setdefault(name, []).append(acc)
            if not (0.0 <= acc <= 1.0) or accuracies[name][0] != acc:
                op["check_failed"] = f"accuracy {accuracies[name]}"
                run.fail(name, op["check_failed"])
        for task, team, hg in SOCCER_KEYS:
            name = f"predict_{task}:{team}_{hg}"
            rows = None
            with tr.span("op", name, kind="predict", pass_=p) as op:
                try:
                    with tr.span("features", name, group=True):
                        fn = (predictor.predict_flat if task == "flat"
                              else predictor.predict_overunder)
                        pred = fn(team, hg, min_id=MIN_ID[task])
                    if run.traced:
                        with tr.span("plan", name, group=True) as sp:
                            sp["phases"] = plan_phases(pred)
                    with tr.span("exec", name, group=True):
                        rows = pred.collect()
                except Exception as e:  # noqa: BLE001
                    op["error"] = f"{type(e).__name__}: {e}"
            tr.collect()
            if "error" in op:
                run.fail(name, op["error"])
                continue
            labels = datagen.FLAT_LABELS if task == "flat" else datagen.OU_LABELS
            ids = [r["id"] for r in rows]
            want = expected_predict_ids(state, team, hg, MIN_ID[task])
            if len(ids) != len(set(ids)) or set(ids) != want or \
                    not {r["predicted_label"] for r in rows} <= labels:
                op["check_failed"] = f"{len(ids)} predictions for {len(want)} games"
                run.fail(name, op["check_failed"])
        shutil.rmtree(root, ignore_errors=True)

    measure(run, spark, one_pass)
    run.info["accuracy"] = accuracies
    same_accuracy_as_recorded(run, {k: v[0] for k, v in accuracies.items()})
    run.info["upsert_bytes"] = written
    with tr.span("teardown", "soccer"):
        spark.catalog.clearCache()
        stop_session(spark)
