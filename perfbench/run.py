"""The crawl engine's benchmark: one workload per run, every output checked.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (sizes in ``SIZES``):

- ``crawl``: BSP crawl rounds through ``CrawlRunner`` (lock, claim log and
  text index on, 8 buckets) over seeded synthetic seeds. Set-up ingests the
  seeds with ``init_frontier``; each operation is one ``run_round``. Checked
  against ``plans.simulator.simulate`` (claim log and seen set).
- ``suite``: the leaves of the frozen ``bench.py``, imported from it, over the
  sf0.01 tables in ``perfbench/data``. Each operation is one pass over every
  leaf; each leaf's row count is checked against ``expected_rows.json``. The
  input is fixed, so the seed is ignored.

Operations run closed-loop from one client until the next one would end
after ``--seconds`` (at least one runs). The last stdout line is the result
JSON; the line before it records cores, steal %, pyspark version and the
Spark conf. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
re-runs the workload with spans and the Spark event log on and reports the
per-layer metrics (README.md lists them and the end-to-end metric each
should move). The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
OUT = os.path.join(ROOT, ".perfbench")

SIZES = {
    "crawl": {
        "full": {"seeds": 15000, "round_size": 10000, "round_seconds": 1000.0},
        "tiny": {"seeds": 300, "round_size": 100, "round_seconds": 1000.0},
    },
    "suite": {
        "full": {"frontier_n": 100_000, "leaves": None},
        "tiny": {"frontier_n": 5000, "leaves": ["q1_pricing_summary", "q_token_stats", "q_chunk_stats"]},
    },
}

# bench.py main()'s BM25 index queries
BM25_QUERIES = [
    "spark merge shuffle", "window rank partition", "document section page",
    "corpus postings index", "quick brown fox",
]

# tables a round commits to (a create on the round that first writes one, a
# merge afterwards) and the tables init_frontier creates
CRAWL_TABLES = ("frontier", "chunks", "doc_meta", "claim_log", "seen_cuckoo")
INIT_TABLES = ("frontier", "seen_cuckoo")
UDFS = ("fetch", "extract", "chunk", "embed")
SPARK_FIELDS = {
    "jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "gc_ms": "ms", "executor_run_ms": "ms",
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def suite_leaves() -> tuple[list[str], list[str]]:
    """(timed leaf names, traced call names) of the suite, in run order."""
    import bench

    calls = list(bench.BENCH_QUERIES) + ["bm25_index", "frontier_dedup_claim"]
    timed = list(bench.BENCH_QUERIES) + [
        "bm25_index_build", "bm25_indexed_5q", "bm25_scan_5q", "frontier_dedup_claim",
    ]
    return timed, calls


def per_layer_names() -> dict[str, str]:
    names = {
        "crawl_round.jobs_per_round": "count",
        "crawl_round.stages_per_round": "count",
        "crawl_round.self_s": "s",
    }
    names.update({f"store.commit.{t}_s": "s" for t in CRAWL_TABLES})
    names.update({f"store.create.{t}_s": "s" for t in INIT_TABLES})
    names.update({
        "store.bytes_written": "bytes",
        "store.files_written": "count",
        "store.write_amp": "ratio",
        "seen.cuckoo_bytes": "bytes",
        "search_index.update_s": "s",
        "search_index.postings_bytes": "bytes",
    })
    names.update({f"udf.{u}_s": "s" for u in UDFS})
    names.update({
        "udf.rows": "count",
        "scheduler.widths_s": "s",
        "scheduler.claim_s": "s",
        "scheduler.claim_jobs": "count",
        "scheduler.claim_stages": "count",
    })
    names.update({f"spark.{k}": u for k, u in SPARK_FIELDS.items()})
    timed, calls = suite_leaves()
    names.update({f"suite.{leaf}_s": "s" for leaf in timed})
    names.update({f"suite.{call}.jobs": "count" for call in calls})
    names.update({"peak_rss_mb": "MB", "trace.op_p50_s": "s", "trace.self_s": "s"})
    return names


# --- workloads ----------------------------------------------------------------


class Crawl:
    @staticmethod
    def shuffle_partitions(cores: int) -> int | None:
        return None  # get_spark's default

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark, self.work, self.seed, self.size, self.tracer = spark, work, seed, size, tracer
        self.rounds: list[dict] = []
        self.attempted = self.failed = 0

    def setup(self) -> None:
        from perfbench import checks

        from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
        from azure_blob_crawler_spark.sources import synthetic

        self.rows = checks.seed_rows(self.size["seeds"], self.seed)
        self.runner = CrawlRunner(
            self.spark, os.path.join(self.work, "store"),
            round_size=self.size["round_size"], round_seconds=self.size["round_seconds"],
            n_buckets=8,
        )
        if self.tracer:
            self._instrument()
        seeds = self.spark.createDataFrame(self.rows, "url string, depth int, discovery_seq long")
        with _span(self.tracer, "crawl.init_frontier"):
            self.runner.init_frontier(seeds, synthetic.robots_df(self.spark))
        if self.tracer:
            self._files0, self._live0 = self._store_files(), self._live_bytes()

    def op(self) -> None:
        self.attempted += 1
        with _span(self.tracer, "crawl_round"):
            m = self.runner.run_round()
        if m.get("done"):
            raise RuntimeError(f"round {m['round']} found nothing to claim")
        self.rounds.append(m)

    def check(self) -> None:
        from perfbench import checks

        n = len(self.rounds)
        if not n:
            return
        sim = checks.simulate_crawl(self.rows, self.size["round_size"], self.size["round_seconds"], n)
        bad = checks.check_crawl(self.runner.claim_log(), self.runner.seen_set(), sim, n)
        for r in bad:
            print(f"perfbench: crawl round {r} differs from the simulator", file=sys.stderr)
        self.failed += len(bad)

    # -- traced run only --

    def _instrument(self) -> None:
        from perfbench.trace import timed_udf

        from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
        from azure_blob_crawler_spark.plans import crawl_round
        from azure_blob_crawler_spark.sources.store import SnapshotStore

        t = self.tracer
        t.wrap(SnapshotStore, "create", lambda store, name, *a, **k: f"store.create.{name}")
        t.wrap(SnapshotStore, "merge", lambda store, name, *a, **k: f"store.merge.{name}")
        t.wrap(TextSearchIndex, "update", lambda *a, **k: "search_index.update")
        t.wrap(crawl_round, "hot_host_widths", lambda *a, **k: "scheduler.widths")

        def claim_action(df):
            df = df.persist()  # the runner persists and counts it next
            df.count()
            return df

        t.wrap(crawl_round, "claim_round", lambda *a, **k: "scheduler.claim", claim_action)
        sc = self.spark.sparkContext
        self.udf_acc = {}
        for name in UDFS:
            acc = (sc.accumulator(0.0), sc.accumulator(0))
            self.udf_acc[name] = acc
            attr = "_" + name
            setattr(self.runner, attr, timed_udf(getattr(self.runner, attr), *acc))

    def _store_files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.runner.store.root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def _tables(self) -> list[str]:
        idx = self.runner.search_index
        names = list(CRAWL_TABLES) + ["robots", idx.postings, idx.docs]
        return [t for t in names if self.runner.store.exists(t)]

    def _live_bytes(self) -> int:
        return sum(self.runner.store.table_bytes(t) for t in self._tables())

    def layer_stats(self) -> dict:
        """Store-side figures of the measured window, read before the
        session stops."""
        store = self.runner.store
        new = {p: s for p, s in self._store_files().items() if p not in self._files0}
        return {
            "bytes_written": sum(new.values()),
            "files_written": len(new),
            "live_growth": self._live_bytes() - self._live0,
            "cuckoo_bytes": store.table_bytes("seen_cuckoo"),
            "postings_bytes": store.table_bytes(self.runner.search_index.postings)
            if store.exists(self.runner.search_index.postings) else 0,
            "udf": {k: (a.value, b.value) for k, (a, b) in self.udf_acc.items()},
        }

    def layers(self, tracer, counts, stats, out: dict) -> None:
        from perfbench.trace import inclusive

        rounds = [s for s in tracer.spans if s["name"] == "crawl_round"]
        n = len(rounds)
        if not n:
            return
        in_rounds = set().union(*(tracer.descendants(s["id"]) for s in rounds))
        in_setup = {s["id"] for s in tracer.spans} - in_rounds

        def total_s(names, ids):
            return sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] in names and s["id"] in ids
            )

        def spark_total(name, field):
            return sum(
                inclusive(tracer, counts, s["id"]).get(field, 0.0)
                for s in tracer.spans if s["name"] == name and s["id"] in in_rounds
            )

        out["crawl_round.jobs_per_round"] = spark_total("crawl_round", "jobs") / n
        out["crawl_round.stages_per_round"] = spark_total("crawl_round", "stages") / n
        out["crawl_round.self_s"] = sum(tracer.self_time(s["id"]) for s in rounds) / n
        for t in CRAWL_TABLES:
            out[f"store.commit.{t}_s"] = total_s({f"store.merge.{t}", f"store.create.{t}"}, in_rounds) / n
        for t in INIT_TABLES:
            out[f"store.create.{t}_s"] = total_s({f"store.create.{t}"}, in_setup)
        out["store.bytes_written"] = stats["bytes_written"] / n
        out["store.files_written"] = stats["files_written"] / n
        out["store.write_amp"] = stats["bytes_written"] / max(stats["live_growth"], 1)
        out["seen.cuckoo_bytes"] = stats["cuckoo_bytes"]
        out["search_index.update_s"] = total_s({"search_index.update"}, in_rounds) / n
        out["search_index.postings_bytes"] = stats["postings_bytes"]
        for u, (secs, rows) in stats["udf"].items():
            out[f"udf.{u}_s"] = secs / n
        out["udf.rows"] = sum(rows for _, rows in stats["udf"].values()) / n
        out["scheduler.widths_s"] = total_s({"scheduler.widths"}, in_rounds) / n
        out["scheduler.claim_s"] = total_s({"scheduler.claim"}, in_rounds) / n
        out["scheduler.claim_jobs"] = spark_total("scheduler.claim", "jobs") / n
        out["scheduler.claim_stages"] = spark_total("scheduler.claim", "stages") / n


class Suite:
    @staticmethod
    def shuffle_partitions(cores: int) -> int | None:
        return max(cores, 8)  # as bench.py main()

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark, self.size, self.tracer = spark, size, tracer
        self.times: dict[str, list[float]] = {}
        self.span_ids: dict[str, list[int]] = {}
        self.attempted = self.failed = 0

    def setup(self) -> None:
        import bench
        from perfbench import checks

        qs = bench.entrymod.queries()
        # the same substitutions as bench.py main()
        qs["q_minhash_dedup"] = bench.minhash_dedup_full
        qs["q_bm25_search"] = bench.bm25_scan_once
        qs["q_hybrid_search"] = bench.hybrid_scan_once
        qs["q_url_canonicalize"] = bench.url_canon_plain
        n = self.size["frontier_n"]
        calls = {q: (lambda f=qs[q]: f(self.spark, DATA).count()) for q in bench.BENCH_QUERIES}
        calls["bm25_index"] = lambda: bench.bench_bm25_index(self.spark, DATA, BM25_QUERIES)
        calls["frontier_dedup_claim"] = lambda: bench.frontier_dedup_claim(self.spark, n)
        keep = self.size["leaves"]
        self.calls = {k: v for k, v in calls.items() if keep is None or k in keep}
        self.expected = checks.expected_rows()
        self.expected_key = {"frontier_dedup_claim": f"frontier_dedup_claim_{n}"}

    def op(self) -> None:
        from perfbench import checks

        for name, call in self.calls.items():
            self.attempted += 1
            try:
                with _span(self.tracer, f"suite.{name}") as span:
                    t0 = time.perf_counter()
                    got = call()
                    dt = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            if isinstance(got, dict):  # bench_bm25_index: its own sub-timings
                for k, v in got.items():
                    self.times.setdefault(k, []).append(v)
                rows = None
            else:
                self.times.setdefault(name, []).append(dt)
                rows = got
            if span is not None:
                self.span_ids.setdefault(name, []).append(span["id"])
            if not checks.check_leaf(self.expected_key.get(name, name), rows, self.expected):
                print(f"perfbench: suite leaf {name} returned {rows} rows", file=sys.stderr)
                self.failed += 1

    def check(self) -> None:
        pass  # every leaf is checked as it runs

    def layer_stats(self) -> dict:
        return {}

    def layers(self, tracer, counts, stats, out: dict) -> None:
        from perfbench.trace import inclusive

        for leaf, vals in self.times.items():
            out[f"suite.{leaf}_s"] = statistics.median(vals)
        for call, sids in self.span_ids.items():
            out[f"suite.{call}.jobs"] = statistics.median(
                inclusive(tracer, counts, sid).get("jobs", 0.0) for sid in sids
            )


WORKLOADS = {"crawl": Crawl, "suite": Suite}


# --- session ----------------------------------------------------------------------


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool, shuffle_partitions):
    """Spark session through the engine's ``get_spark``, with every file the
    run writes kept under ``work``."""
    from azure_blob_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers are forked by the JVM and import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = _cores()
    return get_spark(
        "perfbench", cores=cores, shuffle_partitions=shuffle_partitions(cores), extra_conf=conf
    )


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


# --- run ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, size: str, work: str) -> dict:
    import pyspark

    import bench
    from perfbench.trace import Tracer, inclusive, spark_counts

    cls = WORKLOADS[workload]
    sizes = SIZES[workload][size]
    t0 = time.perf_counter()
    spark = start_session(work, trace, cls.shuffle_partitions)
    tracer = Tracer(spark.sparkContext) if trace else None
    try:
        wl = cls(spark, work, seed, sizes, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0

        ops: list[float] = []
        cpu0 = bench._cpu_sample()
        with _span(tracer, "measure") as measure:
            start = time.perf_counter()
            while not ops or time.perf_counter() - start + statistics.median(ops) <= seconds:
                t = time.perf_counter()
                try:
                    wl.op()
                except Exception:
                    traceback.print_exc()
                    wl.failed += 1
                    break
                ops.append(time.perf_counter() - t)
        cpu1 = bench._cpu_sample()
        stats = {**wl.layer_stats(), "peak_rss_mb": peak_rss_mb(spark)} if trace else None
        wl.check()
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_session(spark)

    env = {
        "workload": workload, "seed": seed, "size": sizes, "trace": trace,
        "cores": _cores(), "steal_pct": bench._steal_pct(cpu0, cpu1),
        "pyspark": pyspark.__version__, "op_s": ops, "spark_conf": conf,
    }
    print(json.dumps({"perfbench_env": env}, sort_keys=True))

    op_p50 = statistics.median(ops) if ops else 0.0
    if not trace:
        values = {"setup_s": setup_s, "op_p50_s": op_p50}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        counts = spark_counts(os.path.join(work, "events"))
        names = per_layer_names()
        values = dict.fromkeys(names, 0.0)
        wl.layers(tracer, counts, stats, values)
        window = inclusive(tracer, counts, measure["id"])
        for k in SPARK_FIELDS:
            values[f"spark.{k}"] = window.get(k, 0.0) / max(len(ops), 1)
        values["peak_rss_mb"] = stats["peak_rss_mb"]
        values["trace.op_p50_s"] = op_p50
        values["trace.self_s"] = tracer.self_s
        tracer.write(os.path.join(OUT, "traces", f"{workload}-seed{seed}.json"))
        metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    # an operation that raised counts in wl.failed, so no ops means failed > 0
    return {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smallest inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import azure_blob_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if args.workload == "suite" and not os.path.isdir(DATA):
        print(f"perfbench: missing suite tables in {DATA}", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
