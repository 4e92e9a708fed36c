"""The traced run: per-layer numbers, measured from outside the library.

It runs the same build (and, on ``delete``, the same deletes) as an
untraced run of the workload, the lanes only for their checked warm-up
rounds, and in addition:

- composes the build from the public layer functions that
  ``build_index`` calls (``with_doc_ids``, ``term_frequencies_colocated``,
  ``corpus_stats``/``document_frequencies``, ``impacts``,
  ``build_segments``, ``write_bucketed``), one job group per layer, and
  checks the composed index against ``build_index``'s output (segment
  rows, per-term postings, blob digest), so the composition cannot drift
  from the real pipeline silently;
- splits single queries into analyze, pyarrow scan, segment rebuild
  (``row_to_segment``) and scoring (``bmw_topk_local``), and times the
  three lanes around them;
- ends with an upsert on either workload, run as
  ``Engine.update_documents``' two steps, ``Engine.delete`` and
  ``append_documents(stale_stats=True)``, and measures the read
  amplification it leaves;
- reports its own overhead: the topk lane timed inside a job group
  minus the same lane outside one.

The encode layer is forced by ``persist()`` + ``count()`` instead of
the write that forces it inside ``build_index``, so encode and write
can be timed apart; the digest check shows the stored bytes are the
same.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import statistics
import time

from checks import rows_to_list, same_results
from inputs import doc_terms
from tracing import Tracer, parquet_bytes, peak_rss_mb

TRACED_QUERIES = 6
TRACED_FRESH = 20  # enough Zipf draws that the hit ratio is never 0


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _postings_table(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _digest(tbl) -> tuple[int, dict, str]:
    """(segment rows, per-term postings, sha256 over the stored rows)."""
    cols = ["term", "seg_idx", "df", "n_postings", "min_doc_id",
            "max_doc_id", "doc_blob", "tf_blob", "impact_blob", "block_n",
            "block_max_doc", "block_max_impact", "block_doc_off",
            "block_tf_off", "bucket"]
    rows = sorted(tbl.select(cols).to_pylist(),
                  key=lambda r: (r["term"], r["seg_idx"]))
    h = hashlib.sha256()
    per_term: dict[str, int] = {}
    for r in rows:
        per_term[r["term"]] = per_term.get(r["term"], 0) + r["n_postings"]
        h.update(repr([r[c] for c in cols]).encode())
    return len(rows), per_term, h.hexdigest()


def compose_build(run, tr: Tracer) -> dict:
    """build_index's default pipeline, one traced layer per call."""
    from pyspark.sql import functions as F

    from documentindex_spark.constants import NUM_TERM_BUCKETS
    from documentindex_spark.functions.tokenize import (
        term_frequencies_colocated,
    )
    from documentindex_spark.operators.bm25 import impacts
    from documentindex_spark.operators.postings import (
        build_segments,
        write_bucketed,
    )
    from documentindex_spark.operators.stats import (
        corpus_stats,
        document_frequencies,
    )
    from documentindex_spark.plans.build_index import build_index
    from documentindex_spark.sources.registry import with_doc_ids

    spark = run.spark
    defaults = {
        k: p.default for k, p in inspect.signature(build_index).parameters.items()
    }
    groups_n = run.bucket_groups
    out = os.path.join(run.work, "composed")
    docs_path, tf_path, dl_path = (os.path.join(out, n)
                                   for n in ("docs", "tf", "dl"))
    postings_path = os.path.join(out, "postings")

    with tr.layer("sources"):
        with_doc_ids(spark.read.parquet(run.corpus_path)).write.parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        docs.count()
    with tr.layer("tokenize"):
        term_frequencies_colocated(docs, "content").write.parquet(tf_path)
        tf_rows = spark.read.parquet(tf_path).count()
    tf = spark.read.parquet(tf_path)
    with tr.layer("stats"):
        docs.select("doc_id").join(
            tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")), "doc_id", "left",
        ).select(
            "doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl")
        ).write.parquet(dl_path)
        dl = spark.read.parquet(dl_path)
        stats = corpus_stats(dl)
    dfreq = document_frequencies(tf)
    impact_b = impacts(tf, dl, dfreq, stats).withColumn(
        "bucket",
        F.pmod(F.crc32(F.col("term").cast("binary")),
               F.lit(NUM_TERM_BUCKETS)).cast("int"),
    )
    for gid in range(groups_n):
        buckets = [b for b in range(NUM_TERM_BUCKETS) if b % groups_n == gid]
        grp = (impact_b if len(buckets) == NUM_TERM_BUCKETS
               else impact_b.filter(F.col("bucket").isin(buckets)))
        with tr.layer("postings.encode"):
            seg = build_segments(
                grp.drop("bucket"), stats.n_docs,
                defaults["postings_per_shard"], defaults["band_size"],
            ).persist()
            seg.count()
        gpath = os.path.join(postings_path, f"group={gid}")
        with tr.layer("postings.write"):
            write_bucketed(seg, gpath)
            spark.read.parquet(gpath).count()
        seg.unpersist()
    return {"postings_path": postings_path, "tf_rows": tf_rows}


def build_metrics(run, tr: Tracer, composed: dict) -> dict:
    enc = tr.merged("postings.encode")
    wr = tr.merged("postings.write")
    tok = tr.merged("tokenize")
    built_tbl = _postings_table(run.built.postings_path)
    comp_rows, comp_terms, comp_digest = _digest(
        _postings_table(composed["postings_path"]))
    rows, terms, digest = _digest(built_tbl)
    run.tally.check(
        (comp_rows, comp_terms, comp_digest) == (rows, terms, digest),
        "traced build composition differs from build_index output",
    )
    post_bytes, files = parquet_bytes(composed["postings_path"])
    write_stages = [s for s in wr.stages if s.output_bytes > 0]
    bi = tr.merged("build_index")
    return {
        "sources.with_doc_ids_s": tr.merged("sources").wall_s,
        "tokenize.tf_s": tok.wall_s,
        "tokenize.tf_rows": composed["tf_rows"],
        "tokenize.shuffle_write_bytes": tok.total("shuffle_write_bytes"),
        "stats.dl_stats_s": tr.merged("stats").wall_s,
        "postings.encode_s": enc.wall_s,
        "postings.encode_tasks": enc.tasks,
        "postings.encode_core_s": enc.core_s,
        "postings.encode_terms": len(terms),
        "postings.encode_core_ms_per_term": 1e3 * enc.core_s / max(1, len(terms)),
        "postings.encode_busy_ratio": enc.core_s / (enc.wall_s * run.cores),
        "postings.shuffle_write_bytes": enc.total("shuffle_write_bytes"),
        "postings.write_s": wr.wall_s,
        "postings.write_tasks": sum(s.tasks for s in write_stages),
        "postings.write_files": files,
        "postings.write_max_task_share": max(
            (s.max_task_ms / s.sum_task_ms for s in write_stages
             if s.sum_task_ms), default=0.0),
        "index.postings_bytes_per_input_byte": post_bytes / run.content_bytes,
        "index.segment_rows": rows,
        "build_index.s": bi.wall_s,
        "build_index.jobs": bi.jobs,
        "build_index.tasks": bi.tasks,
    }


def query_metrics(run, tr: Tracer) -> dict:
    """Layer split of single queries over the engine's current index."""
    import pyarrow.dataset as ds

    from documentindex_spark.functions.tokenize import query_terms
    from documentindex_spark.operators.bmw import bmw_topk_local
    from documentindex_spark.operators.postings import (
        row_to_segment,
        term_bucket,
    )

    eng = run.eng
    dataset = ds.dataset(run.built.postings_path, format="parquet",
                         partitioning="hive")
    s: dict[str, list[float]] = {}

    def add(name, v):
        s.setdefault(name, []).append(v)

    for i in range(TRACED_QUERIES):
        q, k = run.next_query()
        t0 = time.perf_counter()
        terms = query_terms(q)
        buckets = sorted({term_bucket(t) for t in terms})
        add("analyze", time.perf_counter() - t0)
        t0 = time.perf_counter()
        tbl = dataset.to_table(filter=ds.field("bucket").isin(buckets)
                               & ds.field("term").isin(terms))
        add("scan", time.perf_counter() - t0)
        rows = tbl.to_pylist()
        add("scan_rows", len(rows))
        add("blob", sum(len(r["doc_blob"]) + len(r["tf_blob"])
                        + len(r["impact_blob"]) for r in rows))
        t0 = time.perf_counter()
        by_term: dict[str, list] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(row_to_segment(r))
        add("decode", time.perf_counter() - t0)
        t0 = time.perf_counter()
        top = bmw_topk_local(by_term, k, exclude=run.deleted or None)
        add("score", time.perf_counter() - t0)
        matched = sum(r["n_postings"] for r in rows)
        add("matched", matched)
        add("per_result", matched / max(1, len(top)))

        # topk lane: untraced and traced, alternating which goes first
        res = {}
        for traced_first in ((True, False) if i % 2 else (False, True)):
            if traced_first:
                with tr.layer("topk") as rec:
                    res["topk"] = rows_to_list(eng.search(q, k).collect())
                add("topk_traced", rec.wall_s)
                add("topk_jobs", rec.jobs)
                add("topk_tasks", rec.tasks)
            else:
                t0 = time.perf_counter()
                eng.search(q, k).collect()
                add("topk_untraced", time.perf_counter() - t0)
        t0 = time.perf_counter()
        res["serve"] = eng.search_serve(q, k)
        add("serve", time.perf_counter() - t0)
        t0 = time.perf_counter()
        res["arrow"] = eng.search_serve_arrow(q, k)
        add("arrow", time.perf_counter() - t0)
        run.tally.check(
            all(same_results(r, top) for r in res.values())
            and same_results(top, run.want_topk(q, k)),
            f"traced layers disagree on {q!r}",
        )
        run.check_live(top, "traced query")
        inner = s["decode"][-1] + s["score"][-1]
        add("topk_overhead",
            s["topk_untraced"][-1] - s["scan"][-1] - inner)
        add("serve_collect", s["serve"][-1] - inner)
        add("arrow_read", s["arrow"][-1] - inner)
    return {
        "bmw.analyze_us": 1e6 * _med(s["analyze"]),
        "bmw.scan_ms": 1e3 * _med(s["scan"]),
        "bmw.scan_rows": _med(s["scan_rows"]),
        "bmw.scan_blob_bytes": _med(s["blob"]),
        "bmw.decode_ms": 1e3 * _med(s["decode"]),
        "bmw.score_ms": 1e3 * _med(s["score"]),
        "bmw.postings_matched": _med(s["matched"]),
        "bmw.postings_per_result": _med(s["per_result"]),
        "topk.jobs_per_query": _med(s["topk_jobs"]),
        "topk.tasks_per_query": _med(s["topk_tasks"]),
        "topk.overhead_ms": 1e3 * _med(s["topk_overhead"]),
        "serve.collect_ms": 1e3 * _med(s["serve_collect"]),
        "arrow.read_ms": 1e3 * _med(s["arrow_read"]),
        "trace.overhead_ms": 1e3 * (_med(s["topk_traced"])
                                    - _med(s["topk_untraced"])),
    }


def batch_findall_metrics(run, tr: Tracer) -> dict:
    import pyarrow.dataset as ds

    from documentindex_spark.functions.tokenize import query_terms

    qs = run.batch(tracer=tr)
    b = tr.merged("batch")
    scan = [x for x in b.stages if x.shuffle_write_bytes and not x.shuffle_read_bytes]
    score = [x for x in b.stages if x.shuffle_read_bytes]
    topics = run.findall(tracer=tr)
    f = tr.merged("findall")
    dataset = ds.dataset(run.built.postings_path, format="parquet",
                         partitioning="hive")
    decoded = sum(
        sum(dataset.to_table(filter=ds.field("term").isin(query_terms(t)),
                             columns=["n_postings"])
            .column("n_postings").to_pylist())
        for t, _ in topics
    )
    calls = max(1, tr.calls("findall"))
    return {
        "batch.qps": run.metrics.pop("batch.qps"),
        "findall.ms": 1e3 * _med(run.samples["findall"]),
        "batch.pairs": sum(len(query_terms(q)) for q in qs),
        "batch.tasks": b.tasks,
        "batch.scan_core_s": sum(x.run_ms for x in scan) / 1e3,
        "batch.score_core_s": sum(x.run_ms for x in score) / 1e3,
        "batch.shuffle_bytes": b.total("shuffle_write_bytes"),
        "findall.postings_decoded": decoded / calls,
        "findall.rows_returned": sum(len(r) for _, r in topics) / calls,
        "findall.tasks": f.tasks / calls,
        "findall.shuffle_bytes": f.total("shuffle_write_bytes") / calls,
    }


def update_metrics(run, tr: Tracer) -> dict:
    import pyarrow.dataset as ds

    from documentindex_spark.functions.tokenize import query_terms

    run.upsert(tr)
    # read amplification after the append: stored segment rows per
    # query term, over every in-vocabulary term of the query pool
    pool_terms = sorted({t for q, _ in run.inp.pool for t in query_terms(q)})
    seg_terms = ds.dataset(
        run.built.postings_path, format="parquet", partitioning="hive",
    ).to_table(filter=ds.field("term").isin(pool_terms), columns=["term"])
    seg_terms = seg_terms.column("term").to_pylist()
    inc = tr.merged("incremental")
    enc = [x for x in inc.stages if x.shuffle_read_bytes]
    enc_core = sum(x.run_ms for x in enc) / 1e3
    terms = set()
    for c in run.inp.upsert["content"]:
        terms |= doc_terms(c)
    return {
        "delete.tombstone_ms": 1e3 * tr.merged("delete").wall_s,
        "incremental.append_s": inc.wall_s,
        "incremental.encode_tasks": sum(x.tasks for x in enc),
        "incremental.encode_core_s": enc_core,
        "incremental.encode_busy_ratio": enc_core / (inc.wall_s * run.cores),
        "incremental.terms_in_batch": len(terms),
        "incremental.jobs": inc.jobs,
        "index.groups": sum(1 for n in os.listdir(run.built.postings_path)
                            if n.startswith("group=")),
        "index.segments_per_query_term":
            len(seg_terms) / max(1, len(set(seg_terms))),
    }


def run_traced(run) -> None:
    tr = Tracer(run.spark)
    m = run.metrics
    m["session.start_s"] = run.start_s
    run.build(tracer=tr)
    run.open_engine()
    run.check_ingest()
    m.update(build_metrics(run, tr, compose_build(run, tr)))
    if run.workload == "delete":
        run.delete()
    run.lanes(seconds=0, arrow_samples=0)  # checked warm-up rounds only
    m.update(query_metrics(run, tr))
    run.fresh(TRACED_FRESH)
    m["api.cache_hit_ratio"] = run.hit_ratio
    m["api.fresh_miss_ms"] = 1e3 * _med(run.samples.get("fresh", []))
    m.update(batch_findall_metrics(run, tr))
    t0 = time.perf_counter()
    run.eng.describe()
    m["api.describe_ms"] = 1e3 * (time.perf_counter() - t0)
    # the upsert goes last, so the reads above saw the workload's index
    if run.workload == "serve":
        run.eng.close()  # unpin, or the fresh engine would read the pinned copy
    m.update(update_metrics(run, tr))
    m["process.driver_peak_rss_mb"] = peak_rss_mb()
    from pyspark import SparkContext

    m["process.jvm_peak_rss_mb"] = peak_rss_mb(SparkContext._gateway.proc.pid)

