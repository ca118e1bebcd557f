"""curate_corpus: a seeded document corpus with planted exact and near
duplicates, curated with near-dedup through the `curate` entry point
(`curate.main([...])` in this process, writing corpus/ and audit/ as
users do), after a warm-up on a small corpus.

Closed batch: one call over DOCS_PER_S x --seconds documents (sized so
the call takes about --seconds on a 4-core host). The admitted set must
equal the one gen.expected_admitted computes from the corpus without
Spark, and the stats line must count every input document.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import time

from . import gen
from .metrics import percentile
from .procs import RssSampler, nproc, spark_env

DOCS_PER_S = 256
WARM_DOCS = 200


def _write_docs(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }), path)


def _admitted(out_dir: str) -> list[int]:
    import pyarrow.dataset as ds

    d = ds.dataset(os.path.join(out_dir, "corpus"), format="parquet",
                   partitioning="hive")
    return sorted(d.to_table(columns=["doc_id"]).column("doc_id").to_pylist())


def _curate_main(ctx, docs: str, out_dir: str) -> dict:
    from pqstream_spark import curate

    buf = io.StringIO()
    with ctx.tracer.span("curate.main"):
        rc = curate.main(["--documents", docs, "--out", out_dir,
                          "--near-dedup"], out=buf)
    if rc != 0:
        raise RuntimeError(f"curate.main exit {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def run(ctx) -> dict:
    from pqstream_spark.session import get_spark

    tr = ctx.tracer
    os.environ.update(spark_env(nproc(), ctx.tmp))
    t_launch = time.monotonic()
    with tr.span("session.get_spark"):
        spark = get_spark("pqstream-curate")
    ctx.own_spark = spark
    warm_rows = gen.CorpusGen(ctx.seed + 1_000_003).corpus(WARM_DOCS)
    warm = os.path.join(ctx.work, "warm.parquet")
    _write_docs(warm_rows, warm)
    _curate_main(ctx, warm, os.path.join(ctx.work, "warm_out"))
    setup_s = time.monotonic() - t_launch

    g = gen.CorpusGen(ctx.seed)
    n_docs = int(DOCS_PER_S * ctx.seconds)
    rows = g.corpus(n_docs)
    expected, expected_counts = gen.expected_admitted(rows)
    docs = os.path.join(ctx.work, "docs.parquet")
    _write_docs(rows, docs)
    rss = RssSampler(os.getpid())  # memory over the measured call

    out_dir = os.path.join(ctx.work, "out")
    with rss.sampling():
        t0 = time.monotonic()
        stats = _curate_main(ctx, docs, out_dir)
        call_s = time.monotonic() - t0
    admitted = _admitted(out_dir)

    # checks: the admitted set is the expected one (a document missing
    # or admitted against the rules fails), no id is admitted twice,
    # and the stats line counts every input document
    failed = len(expected.symmetric_difference(admitted))
    failed += len(admitted) - len(set(admitted))
    failed += abs(stats["docs"] - n_docs)
    digest = hashlib.sha256(json.dumps(admitted).encode()).hexdigest()

    # every document waits for the whole batch: one latency per call
    lat_ms = [call_s * 1000.0]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat_ms, 50.0)[0],
        "latency_p99_ms": percentile(lat_ms, 99.0)[0],
        "events_per_s": n_docs / call_s,
    }
    info = {"params": g.params(), "docs": n_docs, "call_s": call_s,
            "latency_samples": len(lat_ms), "admitted": len(admitted),
            "peak_rss_mb": rss.peak_mb, "rss_median_mb": rss.median_mb,
            "admitted_sha256": digest, "expected_admitted": len(expected),
            "expected_counts": expected_counts, "stats": stats,
            "account": {"failed": failed, "expected": n_docs}}
    layers = _layers(ctx, spark, docs) if tr.enabled else {}
    return {"attempted": n_docs, "failed": failed,
            "correct": failed == 0, "e2e": e2e, "layers": layers,
            "info": info}


def _layers(ctx, spark, docs_path: str) -> dict:
    """Per-layer figures: each stage of the curation run on its own."""
    from pyspark.sql import functions as F

    from pqstream_spark.curate import curate
    from pqstream_spark.queries.llm import (
        SHINGLE_SPARK,
        TOK_SPARK,
        _minhash_signatures,
        band_pairs,
        dedup_corpus,
    )

    tr = ctx.tracer
    docs = spark.read.parquet(docs_path)
    with tr.span("curate.curate"):
        curate(docs, near_dedup=False).write.format("noop").mode(
            "overwrite").save()
    annotate_s = tr.durations("curate.curate")[-1]

    with tr.span("queries.llm.dedup_corpus"):
        nd = dedup_corpus(docs.select("doc_id", "text")).localCheckpoint(
            eager=True)
    dedup_s = tr.durations("queries.llm.dedup_corpus")[-1]
    clusters = nd.where("cluster_keeper IS NOT NULL").select(
        "cluster_keeper").distinct().count()

    with tr.span("queries.llm.band_pairs"):
        # the codegen'd signature aggregate dedup_corpus inlines (the
        # per-row narrow form is interpreted and ~30x slower)
        cand = band_pairs(_minhash_signatures(docs)).localCheckpoint(
            eager=True)
    n_cand = cand.count()
    sh = docs.selectExpr("doc_id", f"{TOK_SPARK} AS tok").selectExpr(
        "doc_id", f"array_distinct({SHINGLE_SPARK}) AS sh")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_int = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (cand.join(a, "doc_a").join(b, "doc_b")
                .where(n_int / (F.size("sh_a") + F.size("sh_b") - n_int)
                       >= 0.5).count())

    # the entry point's two writes (audit, then the admitted corpus read
    # back from it), timed over an already-computed frame
    cur = curate(docs, near_dedup=True).localCheckpoint(eager=True)
    out = os.path.join(ctx.work, "write_probe")
    with tr.span("curate.write"):
        cur.write.mode("overwrite").parquet(os.path.join(out, "audit"))
        spark.read.parquet(os.path.join(out, "audit")).filter(
            "final_keep").write.mode("overwrite").partitionBy("split").parquet(
            os.path.join(out, "corpus"))
    return {
        "curate.annotate_s": annotate_s,
        "curate.write_s": tr.durations("curate.write")[-1],
        "queries.llm.dedup_corpus_s": dedup_s,
        "queries.llm.band_pairs": n_cand,
        "queries.llm.verified_pairs": verified,
        "queries.llm.verify_yield": verified / n_cand if n_cand else 0.0,
        "queries.llm.clusters": clusters,
    }
