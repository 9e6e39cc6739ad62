"""One benchmark workload in one process; started by ``run.py``.

The process builds its Spark session, sets up and warms the workload, then
repeats the workload's timed pass until ``--seconds`` are used, checks the
outputs against the repo's oracles outside the timed region (every crawl
pass; each query once, in the warm pass), and writes one JSON result to
``--out``.  With ``--trace 1`` it also records
spans and Spark's event log and derives the per-layer metrics (see
``layers.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import layers  # noqa: E402
import spans  # noqa: E402

# crawl shapes (see README.md for why each is sized as it is)
STEADY = dict(n_hosts=150, pages_per_host=60, batch_size=6000, iterations=2)
DISCOVER = dict(
    n_hosts=200, pages_per_host=40, n_seeds=100, batch_size=300,
    first_iterations=2, resumed_iterations=2, bloom_buckets=32,
    bloom_capacity_per_bucket=30_000,
)
WARM_WEB = dict(n_hosts=10, pages_per_host=5)
# the repo's fixed sf0.1 test tables that the headline queries read (TESTDATA.md)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "step_p50_s": "s", "step_geomean_s": "s"}


class Run:
    """Counters and per-pass records shared by every workload."""

    def __init__(self, args, spark, rec, tmp):
        self.args, self.spark, self.rec, self.tmp = args, spark, rec, tmp
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.excluded_s = 0.0  # oracle and cleanup time spent before the timed region
        self.detail: dict = {}
        self.cleanup: threading.Thread | None = None

    def op(self, fn, *a, **k):
        """One counted operation; a raise counts as failed and propagates."""
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception:
            self.failed += 1
            raise

    @contextlib.contextmanager
    def phase(self, name: str):
        """Accumulate the wall time of a set-up or bookkeeping phase."""
        t0 = time.time()
        try:
            yield
        finally:
            ph = self.detail.setdefault("phase_s", {})
            ph[name] = ph.get(name, 0.0) + time.time() - t0

    def join_cleanup(self) -> None:
        if self.cleanup is not None:
            self.cleanup.join()
            self.cleanup = None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what} {detail}".strip())

    def timed_passes(self, one_pass, min_passes: int = 1) -> None:
        """Repeat ``one_pass`` until ``--seconds`` are used and at least
        ``min_passes`` ran."""
        self.rec.start_timed()
        t0 = time.time()
        self.t_first_op = t0
        while True:
            with self.phase("cleanup_wait"):
                self.join_cleanup()
            t_pass = time.time()
            rec = one_pass(len(self.passes))
            # a pass may end its measured work (t1) before its output check
            self.passes.append({"t0": t_pass, "t1": time.time(), **rec})
            if time.time() - t0 >= self.args.seconds and len(self.passes) >= min_passes:
                break


# -- crawl workloads ---------------------------------------------------------
def _crawl_state(engine, bloom: bool) -> dict:
    """Lease order, claimed set, items and failed of a finished crawl, read
    in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    def part(kind, df, col, seq=None):
        return df.select(F.lit(kind).alias("kind"), F.col(col).alias("fp"),
                         (F.col(seq) if seq else F.lit(None)).cast("long").alias("seq"))

    # Bloom mode keeps no exact seen table: claimed = leased or still queued
    claimed = part("queued", engine.frontier(), "fingerprint") if bloom else part(
        "seen", engine.t("seen").read(), "fingerprint")
    pdf = reduce(lambda a, b: a.unionByName(b), [
        part("order", engine.t("crawl_order").read(), "fingerprint", "seq"),
        part("items", engine.t("items").read(), "item_fp"),
        part("failed", engine.t("failed").read(), "fingerprint"),
        claimed,
    ]).toPandas()
    of = lambda kind: pdf[pdf["kind"] == kind]  # noqa: E731
    order = of("order").sort_values("seq")["fp"].tolist()
    return {
        "order": order,
        "claimed": set(of("seen")["fp"]) | (set(order) | set(of("queued")["fp"]) if bloom else set()),
        "items": set(of("items")["fp"]),
        "failed": set(of("failed")["fp"]),
    }


def _check_crawl(run: Run, state: dict, golden) -> None:
    run.check("lease order", state["order"] == golden.crawl_order,
              f"{len(state['order'])} vs {len(golden.crawl_order)}")
    run.check("claimed set", state["claimed"] == golden.seen,
              f"{len(state['claimed'])} vs {len(golden.seen)}")
    run.check("items", state["items"] == set(golden.items), f"{len(state['items'])} vs {len(golden.items)}")
    run.check("failed", state["failed"] == golden.failed)


def _segment(run: Run, engine, max_iterations: int) -> dict:
    """One counted ``run()`` call and the iteration walls inside it."""
    b0 = len(run.rec.boundaries)
    t0 = time.time()
    stats = run.op(engine.run, max_iterations=max_iterations)
    t1 = time.time()
    ends = run.rec.boundaries[b0:]
    starts = [t0] + ends[:-1]
    return {
        "start": t0, "end": t1,
        "iterations": [
            {"start": s, "end": e, **st.__dict__} for s, e, st in zip(starts, ends, stats)
        ],
    }


def _crawl_pass(run: Run, web, seeds, cfg_kw: dict, plan: list) -> tuple[dict, object]:
    """Seed a fresh warehouse and run the ``plan`` of segments/maintenance;
    returns the pass record and the last engine (for the output check)."""
    from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine

    wh = os.path.join(run.tmp, f"pass{len(run.passes)}")
    engine = CrawlEngine(run.spark, wh, web, CrawlConfig(**cfg_kw))
    segments, maint = [], {}
    t0 = time.time()
    engine.seed(seeds)
    seed_s = time.time() - t0
    for step, arg in plan:
        ts = time.time()
        if step == "run":
            segments.append(_segment(run, engine, arg))
        elif step == "compact":
            run.op(engine.compact_frontier)
        elif step == "expire":
            run.op(engine.expire_snapshots, keep_checkpoints=arg)
        elif step == "resume":
            engine = CrawlEngine(run.spark, wh, web, CrawlConfig(**cfg_kw))
            run.op(engine.resume)
        maint[step] = maint.get(step, 0.0) + time.time() - ts
    t1 = time.time()
    wall = t1 - t0
    iters = [it for seg in segments for it in seg["iterations"]]
    urls = sum(it["leased"] for it in iters)
    return {
        "t1": t1, "wall": wall, "seed_s": seed_s, "units": urls, "segments": segments,
        "maintenance_s": maint, "steps": [it["end"] - it["start"] for it in iters],
        "store_bytes": spans.dir_stats(wh)[0],
    }, engine


def _warm_crawl(run: Run, cfg_kw: dict) -> str:
    """Warm the JVM, Python workers and the seen-set path on a small web."""
    from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine
    from feapder_spark.crawl.synthweb import SyntheticWeb

    web = SyntheticWeb(seed=run.args.seed + 1, **WARM_WEB)
    kw = dict(cfg_kw, batch_size=50)
    engine = CrawlEngine(run.spark, os.path.join(run.tmp, "warm"), web, CrawlConfig(**kw))
    engine.seed(web.seeds(5))
    engine.run(max_iterations=1)
    return engine.store.warehouse


def _drop_warehouse(run: Run, path: str) -> None:
    """Delete a finished warehouse in the background.  Its data is on disk
    by then (the store fsyncs its manifests), and deleting flushed files can
    cost milliseconds each on some file systems, so the deletion overlaps
    work outside the timed region: the oracle run, the output check, the
    session stop.  A timed pass never starts before it finished."""
    run.join_cleanup()
    run.cleanup = threading.Thread(target=shutil.rmtree, args=(path,),
                                   kwargs={"ignore_errors": True})
    run.cleanup.start()


def crawl_workload(run: Run, shape: str) -> None:
    from feapder_spark.crawl.oracle import run_oracle
    from feapder_spark.crawl.synthweb import SyntheticWeb

    seed = run.args.seed
    if shape == "steady":
        c = STEADY
        web = SyntheticWeb(n_hosts=c["n_hosts"], pages_per_host=c["pages_per_host"], seed=seed)
        seeds = [
            {"url": web.url(h, p), "priority": 300}
            for h in range(c["n_hosts"]) for p in range(c["pages_per_host"])
        ]
        cfg_kw = dict(batch_size=c["batch_size"])
        plan = [("run", c["iterations"])]
        n_iter = c["iterations"]
    else:
        c = DISCOVER
        web = SyntheticWeb(n_hosts=c["n_hosts"], pages_per_host=c["pages_per_host"], seed=seed)
        seeds = web.seeds(c["n_seeds"])
        cfg_kw = dict(
            batch_size=c["batch_size"], seen_set="bloom", bloom_buckets=c["bloom_buckets"],
            bloom_capacity_per_bucket=c["bloom_capacity_per_bucket"],
        )
        plan = [
            ("run", c["first_iterations"]), ("compact", None), ("expire", 2),
            ("resume", None), ("run", c["resumed_iterations"]),
        ]
        n_iter = c["first_iterations"] + c["resumed_iterations"]
    with run.phase("warm"):
        _drop_warehouse(run, _warm_crawl(run, cfg_kw))
    t0 = time.time()
    with run.phase("oracle"):
        golden = run_oracle(web, seeds, batch_size=cfg_kw["batch_size"], max_iterations=n_iter)
    with run.phase("warm_cleanup"):
        run.join_cleanup()
    run.excluded_s += time.time() - t0

    def one_pass(i):
        rec, engine = _crawl_pass(run, web, seeds, cfg_kw, plan)
        with run.phase("check"):
            _check_crawl(run, _crawl_state(engine, bloom=shape != "steady"), golden)
        _drop_warehouse(run, engine.store.warehouse)
        return rec

    run.timed_passes(one_pass)
    run.detail.update(oracle_urls=len(golden.crawl_order), oracle_items=len(golden.items))


# -- query workload ----------------------------------------------------------
def _normalize(df):
    """The oracle comparison's canonical form (scripts/check_queries.py):
    sorted columns, floats rounded to 9 places, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind == "object" or "datetime" in kind:
            df[c] = df[c].astype(str)
        elif kind.startswith("float"):
            df[c] = df[c].astype("float64").round(9)
        elif kind.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# Q.ORACLES fixes these two at 4 LSH bits, while the Spark queries pick the
# bit count from the table size (similarity.adaptive_bits), so their candidate
# sets differ by design above the 500-row oracle scale.  Their check is
# precision: every reported pair is a true pair with the exact cosine.
_COS = (
    "list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) "
    "* sqrt(list_dot_product(b.emb, b.emb)))"
)
ALL_PAIRS_SQL = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({_COS}, 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS} >= 0.45
"""
PRECISION_ONLY = {"ann_verified_neardups", "ann_multiband_neardups"}


def _check_query(run: Run, con, Q, name: str, got) -> None:
    got = _normalize(got)
    if name in PRECISION_ONLY:
        want = _normalize(con.sql(ALL_PAIRS_SQL).df())
        pairs = got[["cos", "vec_a", "vec_b"]]
        hit = pairs.merge(want, how="left", indicator=True)["_merge"].eq("both").all()
        run.check(name, bool(hit) and not pairs.duplicated().any() and len(got) > 0)
        return
    want = _normalize(con.sql(Q.ORACLES[name]).df())
    ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
    run.check(name, ok, f"{len(got)} vs {len(want)} rows")


def _input_tables(run: Run) -> dict[str, str]:
    """The committed sf0.1 tables, each checked against its SHA256SUMS line
    (excluded from setup_s).  Returns table name -> parquet path."""
    t0 = time.time()
    tables = {}
    with open(os.path.join(SF_DIR, "SHA256SUMS")) as f:
        for line in f:
            digest, fname = line.split()
            path = os.path.join(SF_DIR, fname)
            with open(path, "rb") as data:
                ok = hashlib.sha256(data.read()).hexdigest() == digest
            run.check(f"input {fname}", ok, "differs from SHA256SUMS")
            tables[fname.removesuffix(".parquet")] = path
    run.excluded_s += time.time() - t0
    return tables


def query_workload(run: Run) -> None:
    import duckdb

    from bench import HEADLINE
    from feapder_spark import queries as Q

    sf = SF_DIR
    tables = _input_tables(run)
    names = list(HEADLINE)
    random.Random(run.args.seed).shuffle(names)

    # warm pass: each query once, collected and checked against its oracle
    # (the comparison's own time is excluded from setup_s)
    con = duckdb.connect()
    for t, path in tables.items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for name in names:
        with run.phase("warm"):
            got = run.op(Q.QUERIES[name](run.spark, sf).toPandas)
        t0 = time.time()
        with run.phase("oracle"):
            _check_query(run, con, Q, name, got)
        run.excluded_s += time.time() - t0
    con.close()

    traced = run.args.trace == 1

    def one_pass(i):
        per = {}
        t_pass = time.time()
        for name in names:
            t0 = time.time()
            with run.rec.span(f"query.{name}.build"):
                df = Q.QUERIES[name](run.spark, sf)
            t1 = time.time()
            plan_s = 0.0
            if traced:
                with run.rec.span(f"query.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                plan_s = time.time() - t1
            t2 = time.time()
            with run.rec.span(f"query.{name}.exec"):
                run.op(df.write.format("noop").mode("overwrite").save)
            t3 = time.time()
            per[name] = {"build_s": t1 - t0, "plan_s": plan_s, "exec_s": t3 - t2,
                         "wall": (t1 - t0) + (t3 - t2)}
        return {"wall": time.time() - t_pass, "units": len(names), "queries": per,
                "steps": [q["wall"] for q in per.values()]}

    # the first pass after a collect-based warm-up runs 10-20% slower than
    # the next; three passes let the medians below drop it
    run.timed_passes(one_pass, min_passes=3)
    run.detail["query_order"] = names


# -- metrics -----------------------------------------------------------------
def end_to_end(run: Run, setup_s: float) -> dict:
    """Medians over passes: a query step is one query's median wall over the
    passes; a crawl step is one iteration."""
    passes = run.passes
    if "queries" in passes[0]:
        steps = [statistics.median(p["queries"][n]["wall"] for p in passes)
                 for n in passes[0]["queries"]]
    else:
        steps = [s for p in passes for s in p["steps"]]
    values = {
        "setup_s": setup_s,
        "throughput_per_s": statistics.median(p["units"] / p["wall"] for p in passes),
        "step_p50_s": statistics.median(steps),
        "step_geomean_s": statistics.geometric_mean(steps),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def build_session(args, tmp: str, info: dict):
    from feapder_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    }
    if args.trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    t0 = time.time()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    info["session_build_s"] = time.time() - t0
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()

    from bench import host_canary

    t_main = time.time()
    # host-speed context only, never a metric (see bench.host_canary)
    info: dict = {"canary_md5_mbps": host_canary()}
    spark = build_session(args, args.tmp, info)
    rec = spans.Recorder(spark, describe=bool(args.trace))
    run = Run(args, spark, rec, args.tmp)
    run.detail["phase_s"] = {"interpreter": t_main - args.t_spawn, "session": time.time() - t_main}
    try:
        rec.install()
        try:
            if args.workload == "query_suite":
                query_workload(run)
            else:
                crawl_workload(run, args.workload.removeprefix("crawl_"))
        except Exception:
            run.errors.append(traceback.format_exc())
            run.failed = max(run.failed, 1)
        ok = not run.errors and bool(run.passes)
        result: dict = {
            "correct": ok,
            "attempted": max(run.attempted, 1),
            "failed": min(run.failed, max(run.attempted, 1)),
            "metrics": {},
        }
        if run.passes:
            setup_s = getattr(run, "t_first_op", time.time()) - args.t_spawn - run.excluded_s
            result["metrics"] = end_to_end(run, setup_s)
        pyw = None
        if args.trace and run.passes:
            pyw = spans.python_worker_seconds(spark, os.path.join(args.tmp, "profile"))
    finally:
        rec.uninstall()
        with run.phase("stop"):
            spark.stop()
        with run.phase("end_cleanup"):
            run.join_cleanup()
    if args.trace and run.passes:
        jobs = spans.read_event_log(os.path.join(args.tmp, "eventlog"))
        result["per_layer"], result["iterations"], result["consistency"] = layers.per_layer(
            run, rec, jobs, pyw, info["session_build_s"])
        if not result["consistency"].get("ok", True):
            run.errors.append("trace consistency: span self-times plus driver idle miss the "
                              f"iteration wall by {result['consistency']['max_error']:.1%}")
            result["correct"] = False
    result["errors"] = run.errors
    result["timed_windows"] = [[p["t0"], p["t1"]] for p in run.passes]
    result["info"] = {**info, **run.detail, "passes": len(run.passes),
                      "pass_walls": [p["wall"] for p in run.passes]}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
