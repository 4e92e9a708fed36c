"""Seeded serve / delete benchmark for documentindex_spark.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

One driver process at local[<cores>] runs a closed loop with one
client: each call waits for its reply before the next is sent. The
inputs (corpus, query stream, upsert batch, topics) come from
``inputs.generate(seed)``; the program sees only those. Every result is
checked (``checks.py``); a wrong or failed operation counts in
``failed`` and makes the process exit 1 after printing its result.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import operator
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from checks import Exhaustive, Tally, percentile, rows_to_list, same_results
from inputs import doc_terms, generate, properties
from tracing import parquet_bytes

WORKLOADS = ("serve", "delete")

END_TO_END = {
    "setup_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "topk_p50_rel": "ratio",
    "serve_p50_rel": "ratio",
    "arrow_p50_rel": "ratio",
    "arrow_p90_rel": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.with_doc_ids_s": "s",
    "tokenize.tf_s": "s",
    "tokenize.tf_rows": "count",
    "tokenize.shuffle_write_bytes": "bytes",
    "stats.dl_stats_s": "s",
    "postings.encode_s": "s",
    "postings.encode_tasks": "count",
    "postings.encode_core_s": "s",
    "postings.encode_terms": "count",
    "postings.encode_core_ms_per_term": "ms",
    "postings.encode_busy_ratio": "ratio",
    "postings.shuffle_write_bytes": "bytes",
    "postings.write_s": "s",
    "postings.write_tasks": "count",
    "postings.write_files": "count",
    "postings.write_max_task_share": "ratio",
    "index.postings_bytes_per_input_byte": "ratio",
    "index.segment_rows": "count",
    "build_index.s": "s",
    "build_index.jobs": "count",
    "build_index.tasks": "count",
    "bmw.analyze_us": "us",
    "bmw.scan_ms": "ms",
    "bmw.scan_rows": "count",
    "bmw.scan_blob_bytes": "bytes",
    "bmw.decode_ms": "ms",
    "bmw.score_ms": "ms",
    "bmw.postings_matched": "count",
    "bmw.postings_per_result": "ratio",
    "topk.jobs_per_query": "count",
    "topk.tasks_per_query": "count",
    "topk.overhead_ms": "ms",
    "serve.collect_ms": "ms",
    "arrow.read_ms": "ms",
    "batch.qps": "1/s",
    "batch.pairs": "count",
    "batch.tasks": "count",
    "batch.scan_core_s": "s",
    "batch.score_core_s": "s",
    "batch.shuffle_bytes": "bytes",
    "findall.ms": "ms",
    "findall.postings_decoded": "count",
    "findall.rows_returned": "count",
    "findall.tasks": "count",
    "findall.shuffle_bytes": "bytes",
    "delete.tombstone_ms": "ms",
    "incremental.append_s": "s",
    "incremental.encode_tasks": "count",
    "incremental.encode_core_s": "s",
    "incremental.encode_busy_ratio": "ratio",
    "incremental.terms_in_batch": "count",
    "incremental.jobs": "count",
    "index.groups": "count",
    "index.segments_per_query_term": "ratio",
    "api.cache_hit_ratio": "ratio",
    "api.fresh_miss_ms": "ms",
    "api.describe_ms": "ms",
    "process.driver_peak_rss_mb": "MiB",
    "process.jvm_peak_rss_mb": "MiB",
    "trace.overhead_ms": "ms",
}

# build_index's serving configuration, as bench.py and __spark_entry__.py
# call it: one bucket group (the default of 4 exists for intra-stage
# resume of large builds)
BUCKET_GROUPS = 1
OPEN_REPS = 3  # engine open + persist + warm-up, repeated for setup_s
WARM_ROUNDS = 1  # untimed lane rounds: the first topk job is still cold
ARROW_MIN_SAMPLES = 100  # p90 with 10 samples beyond it
FRESH_QUERIES = 8  # search_cached burst; Zipf repeats give hits
BATCH_QUERIES = 200
FINDALL_RANK = 60  # extract_all threshold = this rank's exhaustive score


def _layer(tracer, name: str):
    """A traced layer, or nothing in an untraced run."""
    return tracer.layer(name) if tracer is not None else nullcontext()


def _median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.bucket_groups = BUCKET_GROUPS
        self.inp = generate(seed)
        self.tally = Tally()
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.expected: dict[tuple[str, int], list] = {}
        self.deleted: frozenset = frozenset()
        self.pool_pos = self.stream_pos = 0
        self._arrow_ref = None
        self.content_bytes = sum(
            len(c.encode()) for c in self.inp.corpus["content"]
        )
        self.props = properties(self.inp)

    # ------------------------------------------------------------ plumbing

    def next_query(self) -> tuple[str, int]:
        """The next distinct query of the pool (latency samples)."""
        q = self.inp.pool[self.pool_pos % len(self.inp.pool)]
        self.pool_pos += 1
        return q

    def next_popular(self) -> tuple[str, int]:
        """The next Zipf-popular draw (cache traffic)."""
        q = self.inp.stream[self.stream_pos % len(self.inp.stream)]
        self.stream_pos += 1
        return q

    def want_topk(self, q: str, k: int) -> list:
        key = (q, k)
        if key not in self.expected:
            self.expected[key] = self.exh.topk(q, k)
        return self.expected[key]

    def check_live(self, res, what: str) -> None:
        if self.deleted:
            self.tally.check(
                not any(int(d) in self.deleted for d, _ in res),
                f"tombstoned doc returned by {what}",
            )

    # ------------------------------------------------------------- session

    def start(self) -> None:
        from documentindex_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = SparkContext._gateway
        spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # --------------------------------------------------------------- setup

    def build(self, tracer=None) -> None:
        from documentindex_spark.plans.build_index import build_index
        from documentindex_spark.sources.registry import with_doc_ids

        self.out = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        with _layer(tracer, "build_index"):
            docs = with_doc_ids(self.spark.read.parquet(self.corpus_path))
            self.built = build_index(self.spark, docs, self.out,
                                     input_id=f"perfbench-{self.seed}",
                                     bucket_groups=self.bucket_groups)
        self.build_s = time.perf_counter() - t0
        self.docs = docs

    def open_engine(self) -> None:
        from documentindex_spark.api import Engine

        q, k = self.inp.pool[-1]
        opens = []
        for rep in range(OPEN_REPS):
            t0 = time.perf_counter()
            eng = Engine(self.spark, self.built, self.docs, "content")
            if self.workload == "serve":  # resident index (serving mode)
                eng.persist()
            eng.search_serve(q, k)  # fills the pinned cache on serve
            eng.search_serve_arrow(q, k)
            opens.append(time.perf_counter() - t0)
            if rep < OPEN_REPS - 1:
                eng.close()
        self.eng = eng
        self.metrics["setup_s"] = self.start_s + self.build_s + _median(opens)

    def check_ingest(self) -> None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(self.built.postings_path, format="parquet",
                         partitioning="hive").to_table(columns=["n_postings"])
        total = sum(tbl.column("n_postings").to_pylist())
        self.tally.check(
            total == self.props["postings"],
            f"index holds {total} postings, generator made "
            f"{self.props['postings']}",
        )
        self.exh = Exhaustive(self.built.postings_path)

    # -------------------------------------------------------------- writes

    def replaced_ids(self) -> list[int]:
        """doc_ids of the stored versions that the upsert batch rewrites."""
        import pyarrow.parquet as pq

        up = self.inp.upsert
        dm = pq.read_table(self.built.doc_map_path,
                           columns=["repo", "path", "doc_id"]).to_pandas()
        keys = set(zip(up["repo"], up["path"]))
        return sorted(
            int(d) for r, p, d in zip(dm["repo"], dm["path"], dm["doc_id"])
            if (r, p) in keys
        )

    def delete(self) -> None:
        """The delete workload's write: one Engine.delete of the docs the
        upsert batch rewrites."""
        from documentindex_spark.plans.delete import load_tombstones

        ids = self.replaced_ids()
        n = self.eng.delete(ids)
        self.deleted = load_tombstones(self.spark, self.built.out_dir)
        self.tally.check(
            set(self.deleted) == set(ids) and n == len(ids) > 0,
            "delete did not tombstone exactly the given docs",
        )
        self.exh = Exhaustive(self.built.postings_path, self.deleted)
        self.expected.clear()

    def upsert(self, tracer) -> None:
        """Engine.update_documents(batch, stale_stats=True) as its two
        steps, each under its own traced layer: Engine.delete of the
        rewritten keys' stored versions, then append_documents."""
        import pyarrow.dataset as ds

        from documentindex_spark.api import Engine
        from documentindex_spark.plans.delete import load_tombstones
        from documentindex_spark.plans.incremental import append_documents

        up = self.inp.upsert
        replaced = self.replaced_ids()
        batch = self.spark.createDataFrame(up)
        with tracer.layer("delete"):
            self.eng.delete(replaced)
        with tracer.layer("incremental"):
            built = append_documents(self.spark, self.eng.built, batch,
                                     f"perfbench-{self.seed}-upsert",
                                     text_col="content", stale_stats=True)
        docs = self.spark.read.parquet(os.path.join(built.out_dir, "docs"))
        self.eng = Engine(self.spark, built, docs, "content")
        self.deleted = load_tombstones(self.spark, built.out_dir)
        self.tally.check(
            set(replaced) == set(self.deleted) and len(replaced) > 0,
            "upsert did not tombstone exactly the rewritten keys",
        )
        self.built = built
        self.exh = Exhaustive(built.postings_path, self.deleted)
        self.expected.clear()
        # stored postings = base + batch (tombstoned rows stay stored)
        total = sum(ds.dataset(built.postings_path, format="parquet",
                               partitioning="hive")
                    .to_table(columns=["n_postings"])
                    .column("n_postings").to_pylist())
        want = self.props["postings"] + sum(
            len(doc_terms(c)) for c in up["content"])
        self.tally.check(total == want,
                         f"after upsert {total} postings, want {want}")

    # --------------------------------------------------------------- reads

    def lanes(self, seconds: float | None = None,
              arrow_samples: int = ARROW_MIN_SAMPLES) -> None:
        """Each query through search().collect(), search_serve and
        search_serve_arrow, plus the two reference calls, in rotating
        order, until the timed lane calls have taken ``seconds`` (default
        --seconds; the first WARM_ROUNDS rounds are checked but not
        timed); then arrow and its reference call alternate until the
        lane has ``arrow_samples``."""
        seconds = self.seconds if seconds is None else seconds
        eng = self.eng
        lanes = {
            "topk": lambda q, k: rows_to_list(eng.search(q, k).collect()),
            "serve": eng.search_serve,
            "arrow": eng.search_serve_arrow,
            "ref": lambda q, k: self.ref_job(),
            "arrow_ref": lambda q, k: self.arrow_ref(),
        }
        order = list(lanes)
        # The checker's own objects (every decoded posting) would make
        # each full collection of the cyclic GC slower, and those pauses
        # land inside timed calls; keep them out of the collector.
        gc.collect()
        gc.freeze()
        spent, i = 0.0, 0
        while spent < seconds or i < WARM_ROUNDS + 3:
            q, k = self.next_query()
            res = {}
            for lane in order[i % 5:] + order[:i % 5]:
                t0 = time.perf_counter()
                res[lane] = lanes[lane](q, k)
                dt = time.perf_counter() - t0
                if i >= WARM_ROUNDS:
                    spent += dt if lane in ("topk", "serve", "arrow") else 0.0
                    self.samples.setdefault(lane, []).append(dt)
            self.tally.check(
                same_results(res["topk"], res["serve"])
                and same_results(res["topk"], res["arrow"]),
                f"lanes disagree on {q!r}",
            )
            self.tally.check(same_results(res["arrow"], self.want_topk(q, k)),
                             f"arrow != exhaustive on {q!r}")
            self.check_live(res["arrow"], "lanes")
            i += 1
        while len(self.samples["arrow"]) < arrow_samples:
            q, k = self.next_query()
            t0 = time.perf_counter()
            r = eng.search_serve_arrow(q, k)
            self.samples["arrow"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.arrow_ref()
            self.samples["arrow_ref"].append(time.perf_counter() - t0)
            self.tally.check(same_results(r, self.want_topk(q, k)),
                             f"arrow != exhaustive on {q!r}")
            self.check_live(r, "arrow")

    def ref_job(self) -> None:
        """A fixed two-stage Spark job that runs no program code. Each
        Spark lane sample is divided by the reference sample of the same
        round, which this shared host slows down together with it."""
        from pyspark.sql import functions as F

        self.spark.range(0, 64, 1, 4).groupBy(
            (F.col("id") % 4).alias("b")).count().collect()

    def arrow_ref(self) -> None:
        """A fixed lookup shaped like the arrow lane that runs no program
        code: a filtered pyarrow scan of a hive-partitioned parquet
        dataset of the benchmark's own, then per-element float work in
        Python. The arrow lane is reported as a multiple of its median."""
        import numpy as np
        import pyarrow.dataset as ds

        if self._arrow_ref is None:
            import pyarrow as pa

            rng = np.random.default_rng(0)
            n = 64 * 8
            path = os.path.join(self.work, "arrow_ref")
            ds.write_dataset(
                pa.table({
                    "term": [f"t{j:04d}" for j in range(n)],
                    "bucket": np.arange(n) % 64,
                    "blob": [rng.random(1024).astype(np.float32).tobytes()
                             for _ in range(n)],
                }),
                path, format="parquet", partitioning=["bucket"],
                partitioning_flavor="hive")
            self._arrow_ref = [
                ds.dataset(path, format="parquet", partitioning="hive"), 0]
        dataset, i = self._arrow_ref
        self._arrow_ref[1] = (i + 1) % 64
        rows = dataset.to_table(
            filter=(ds.field("bucket") == i)
            & ds.field("term").isin([f"t{j:04d}" for j in (i, i + 64, i + 128)])
        ).to_pylist()
        acc: dict[int, float] = {}
        for r in rows:
            for d, x in enumerate(np.frombuffer(r["blob"], np.float32).tolist()):
                acc[d] = acc.get(d, 0.0) + x
        sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    def fresh(self, n: int = FRESH_QUERIES) -> None:
        """Zipf-repeating burst through search_cached; misses timed."""
        eng = self.eng
        for _ in range(n):
            q, k = self.next_popular()
            misses = eng.cache_misses
            t0 = time.perf_counter()
            r = eng.search_cached(q, k)
            dt = time.perf_counter() - t0
            if eng.cache_misses > misses:
                self.samples.setdefault("fresh", []).append(dt)
            self.tally.check(same_results(r, self.want_topk(q, k)),
                             f"search_cached != exhaustive on {q!r}")
            self.check_live(r, "search_cached")
        self.hit_ratio = eng.cache_hits / max(1, eng.cache_hits + eng.cache_misses)

    def batch(self, tracer=None):
        from documentindex_spark.operators.bmw import bmw_topk

        qs = [self.next_query()[0] for _ in range(BATCH_QUERIES)]
        df = bmw_topk(self.spark, self.built.postings_path, dict(enumerate(qs)),
                      k=10, exclude_ids=self.deleted or None)
        t0 = time.perf_counter()
        with _layer(tracer, "batch"):
            rows = df.collect()
        self.metrics["batch.qps"] = len(qs) / (time.perf_counter() - t0)
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for i, q in enumerate(qs):
            got = rows_to_list(by_q.get(i, []))
            self.tally.check(same_results(got, self.want_topk(q, 10)),
                             f"batch row != per-query row for {q!r}")
            self.check_live(got, "batch")
        return qs

    def findall(self, tracer=None) -> list:
        out = []
        for topic in self.inp.topics:
            th = self.exh.rank_score(topic, FINDALL_RANK)
            t0 = time.perf_counter()
            with _layer(tracer, "findall"):
                rows = self.eng.extract_all(topic, threshold=th).collect()
            self.samples.setdefault("findall", []).append(
                time.perf_counter() - t0)
            got = {int(r["doc_id"]): float(r["score"]) for r in rows}
            self.tally.check(
                len(got) == len(rows)
                and got == self.exh.at_or_above(topic, th),
                f"extract_all != exhaustive set for {topic!r}",
            )
            self.check_live(got.items(), "extract_all")
            out.append((topic, rows))
        return out

    # ------------------------------------------------------------ workloads

    def phase(self, name: str, fn, *a, **kw):
        """Run one phase and log its wall time to stderr."""
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        print(f"phase {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr,
              flush=True)
        return out

    def run_timed(self) -> None:
        if self.workload == "delete":
            self.phase("delete", self.delete)
        self.phase("lanes", self.lanes)
        self.phase("fresh", self.fresh)
        self.metrics["index_bytes_per_input_byte"] = (
            parquet_bytes(self.built.postings_path)[0] / self.content_bytes)
        s = self.samples
        aref = _median(s["arrow_ref"])
        self.metrics.update({  # a round's lane and ref samples pair up
            "topk_p50_rel": _median(map(operator.truediv, s["topk"], s["ref"])),
            "serve_p50_rel": _median(map(operator.truediv, s["serve"], s["ref"])),
            "arrow_p50_rel": _median(s["arrow"]) / aref,
            "arrow_p90_rel": percentile(s["arrow"], 90) / aref,
        })
        print("lane_ms " + json.dumps({
            n: round(1e3 * _median(s[n]), 3)
            for n in ("topk", "serve", "arrow", "ref", "arrow_ref")}
            | {"arrow_p90": round(1e3 * percentile(s["arrow"], 90), 3)}),
            flush=True)

    def execute(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(self.inp.corpus,
                                            preserve_index=False),
                       self.corpus_path)
        print("inputs " + json.dumps(self.props), flush=True)
        self.phase("start", self.start)
        try:
            if self.traced:
                from traced import run_traced

                run_traced(self)
            else:
                self.phase("build", self.build)
                self.phase("open", self.open_engine)
                self.phase("check_ingest", self.check_ingest)
                self.run_timed()
        except Exception:
            traceback.print_exc()
            self.tally.fail("operation raised")
        finally:
            self.phase("stop", self.stop)
        names = PER_LAYER if self.traced else END_TO_END
        print("samples " + json.dumps(
            {k: len(v) for k, v in sorted(self.samples.items())}), flush=True)
        for m in self.tally.messages:
            print("FAILED " + m, file=sys.stderr)
        return {
            "correct": self.tally.failed == 0
            and all(n in self.metrics for n in names),
            "attempted": max(1, self.tally.attempted),
            "failed": self.tally.failed,
            "metrics": {
                n: {"value": float(self.metrics[n]), "unit": u}
                for n, u in names.items() if n in self.metrics
            },
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "documentindex_spark")):
        print("perfbench: run from the repository root "
              "(no documentindex_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.makedirs(os.path.join(work, "jvm-tmp"))
    # keep every temporary file of Python, the Spark launcher and the
    # driver JVM inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "jvm-tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    try:
        result = Run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
