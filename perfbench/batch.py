"""Batch workloads: the flagship dedup_pipeline over a generated corpus.

One timed pass reads the pages parquet and runs dedup_pipeline to fully
materialized docs and pairs (the pipeline's own eager localCheckpoints) and
clusters (a noop-sink write). count() is never used to time a plan, and the
SQL status store confirms that each pass ran its Python-eval nodes.

The traced pass runs the same dedup_pipeline with each layer's public
function wrapped: the wrapper calls it inside a span and materializes its
output with an eager localCheckpoint, so the layer's work lands in its own
span and its own tagged Spark jobs.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import statistics
import sys
import time

import spans
from harness import median_setup, p90

# gen_pages' default class mix (55% unique, 10% exact, 15% near, 5% each
# containment, template, degenerate and hot cluster) at web-page lengths:
# signatures and containment do most of the work
CORPUS = {"n_rows": 1200, "min_tokens": 100, "max_tokens": 800}
MIN_PASSES = 2
RECALL_FLOOR = 0.99
# the traced pass's root self time (glue between layer calls: planning,
# observation re-scans, the final clusters join) may be at most this share
# of the traced wall; beyond it the layer table no longer explains the pass
RESIDUAL_SHARE_LIMIT = 0.35


def make_inputs(env) -> dict:
    from intraarchivededuplicator_spark.fixtures.synth import gen_pages, write_parquet

    corpus = gen_pages(seed=env.seed, **CORPUS)
    write_parquet(corpus, os.path.join(env.work, "corpus"))
    return {
        "pages": os.path.join(env.work, "corpus", "pages.parquet"),
        "truth": corpus.truth,
        "n_docs": len(corpus.pages),
    }


def warm_up(env, pages_path: str) -> None:
    """Start the Python workers and import the package in them."""
    from intraarchivededuplicator_spark.functions.textprep import with_extracted_text

    df = with_extracted_text(env.spark.read.parquet(pages_path))
    df.write.format("noop").mode("overwrite").save()


def run_pass(env, pages_path: str, tag: str) -> tuple[float, dict]:
    """One timed pass; returns (wall seconds, the pipeline's outputs)."""
    from intraarchivededuplicator_spark.engine.pipeline import dedup_pipeline

    spark = env.spark
    spark.sparkContext.setJobDescription(tag)
    try:
        t0 = time.perf_counter()
        out = dedup_pipeline(spark, spark.read.parquet(pages_path))
        out["clusters"].write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        spark.sparkContext.setJobDescription(None)
    return wall, out


def digest(out: dict) -> tuple[str, dict, list]:
    """(sha256 of sorted pairs and clusters, url -> cluster_id, pairs)."""
    pairs = sorted(
        tuple(r) for r in out["pairs"].select("id_lo", "id_hi", "distance", "kind").collect()
    )
    clusters = sorted(
        tuple(r) for r in out["clusters"].select("id", "cluster_id", "url").collect()
    )
    h = hashlib.sha256(repr((pairs, clusters)).encode()).hexdigest()
    return h, {url: cid for _, cid, url in clusters}, pairs


def pair_recall(url_cluster: dict, truth) -> float:
    """Ground-truth-linked (url, base_url) pairs that share a cluster."""
    linked = truth[truth["base_url"].notna()]
    hit = sum(
        url_cluster[u] == url_cluster[b]
        for u, b in zip(linked["url"], linked["base_url"])
    )
    return hit / len(linked)


def run(env) -> dict:
    inputs = make_inputs(env)
    errors: list[str] = []
    setup_s, setup_all = median_setup(env, lambda e: warm_up(e, inputs["pages"]))
    spark = env.spark

    walls, digests, failed = [], [], 0
    url_cluster, pairs = {}, []

    def attempt(tag: str) -> float | None:
        nonlocal failed, url_cluster, pairs
        try:
            wall, out = run_pass(env, inputs["pages"], tag)
        except Exception as ex:  # a failed pass is counted, the run goes on
            failed += 1
            errors.append(f"{tag}: {type(ex).__name__}: {ex}")
            return None
        h, url_cluster, pairs = digest(out)
        digests.append(h)
        out["hot_bands"].unpersist()
        return wall

    # pass 0 primes: the JIT and whole-stage codegen compile there, so it
    # is checked like every pass but not timed
    prime_s = attempt("pass-0")
    t_start = time.perf_counter()
    n = 1
    while failed <= MIN_PASSES and (
        len(walls) < MIN_PASSES or time.perf_counter() - t_start < env.seconds
    ):
        wall = attempt(f"pass-{n}")
        n += 1
        if wall is not None:
            walls.append(wall)

    execs = spans.sql_executions(spark)
    sign_ms = []
    for i in range(n):
        ran = [e for e in execs if e["description"] == f"pass-{i}"]
        python = [e for e in ran if e["python_eval_nodes"]]
        if ran and not python:
            errors.append(f"pass-{i}: no executed plan has Python-eval nodes")
        if python and i:
            sign_ms.append(sum(e["ms"] for e in python))
    if len(set(digests)) > 1:
        errors.append(f"pairs/clusters differ across passes: {sorted(set(digests))}")
    recall = pair_recall(url_cluster, inputs["truth"]) if url_cluster else 0.0
    if recall < RECALL_FLOOR:
        errors.append(f"dup_pair_recall {recall:.5f} < floor {RECALL_FLOOR}")
    if not any(kind == "exact" for *_, kind in pairs):
        errors.append("no exact pairs found")
    if not walls:
        return {"errors": errors, "correct": False, "attempted": n, "failed": failed}

    med = statistics.median(walls)
    rss = env.peak_rss_mb()
    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "docs_per_sec": inputs["n_docs"] / med,
            "dup_pair_recall": recall,
            "op_p50_ms": 1000 * med,
            "op_p90_ms": 1000 * p90(walls),
            "insert_p50_ms": statistics.median(sign_ms) if sign_ms else 0.0,
            "peak_rss_mb": sum(rss.values()),
        },
        "samples": {
            "peak_rss_mb": rss,
            "setup_s": setup_all,
            "prime_s": prime_s,
            "pass_s": walls,
            "sign_stage_ms": sign_ms,
            "n_docs": inputs["n_docs"],
            "n_pairs": len(pairs),
            "digest": digests[0],
        },
        "attempted": n,
        "failed": failed,
    }
    if env.trace:
        result["per_layer"] = traced_pass(env, inputs, med, digests[0], errors)
    result["errors"] = errors
    result["correct"] = not errors and failed == 0
    return result


def traced_pass(env, inputs: dict, untraced_wall: float, want_digest: str, errors: list) -> dict:
    import intraarchivededuplicator_spark.engine.pipeline as pl
    import intraarchivededuplicator_spark.operators.banded_join as bj
    from intraarchivededuplicator_spark.config import DEFAULT_CONFIG as cfg
    from intraarchivededuplicator_spark.functions.hashing import signatures_batch
    from intraarchivededuplicator_spark.functions.junk import is_junk_page
    from intraarchivededuplicator_spark.operators.cluster import SMALL_GRAPH_CAP
    from pyspark.sql import functions as F

    spark = env.spark
    sc = spark.sparkContext
    tracer = spans.Tracer(sc, "trace")
    outputs: dict[str, object] = {}

    def matchable(docs):
        # the junk gate build_pairs applies before every pair leg
        if cfg.junk_filter:
            return docs.filter(~is_junk_page("url", "text", "n_tokens"))
        return docs.filter(F.col("n_tokens") > 0)

    def materialized(layer: str, key: str, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                df = fn(*args, **kwargs).localCheckpoint(eager=True)
            outputs[key] = df
            return df

        return wrapper

    orig_build_pairs = pl.build_pairs

    def build_pairs(docs, *args, **kwargs):
        with tracer.span("pipeline.build_pairs"):
            with tracer.span("exact"):
                # the exact-first star leg is inline in build_pairs (no
                # operator call to wrap); this is the same expression
                star = matchable(docs).filter(F.col("id") != F.col("rep_id"))
                outputs["exact"] = star.select("rep_id", "id").localCheckpoint(eager=True)
            df = orig_build_pairs(docs, *args, **kwargs).localCheckpoint(eager=True)
        outputs["pairs"] = df
        return df

    patches = [
        (pl, "with_extracted_text", materialized("textprep", "text", pl.with_extracted_text)),
        (pl, "compute_docs", materialized("udfs", "docs", pl.compute_docs)),
        (bj, "hot_band_keys", materialized("banded_join", "hot_keys", bj.hot_band_keys)),
        (pl, "banded_self_join", materialized("banded_join", "sim", pl.banded_self_join)),
        (pl, "minhash_candidate_pairs", materialized("lsh", "mh_cand", pl.minhash_candidate_pairs)),
        (pl, "jaccard_verify_pairs", materialized("lsh", "jaccard", pl.jaccard_verify_pairs)),
        (pl, "containment_pairs", materialized("containment", "cont", pl.containment_pairs)),
        (pl, "build_pairs", build_pairs),
        (pl, "assign_clusters", materialized("cluster", "cc", pl.assign_clusters)),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    for mod, name, fn in patches:
        setattr(mod, name, fn)
    try:
        with tracer.span("pipeline"):
            out = pl.dedup_pipeline(spark, spark.read.parquet(inputs["pages"]))
            out["clusters"].write.format("noop").mode("overwrite").save()
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
    h, _, _ = digest(out)
    if h != want_digest:
        errors.append("traced pass pairs/clusters differ from untraced passes")

    # Spark-free kernel on exactly the texts the signature UDF signed
    texts = [
        r.text for r in outputs["docs"].filter(F.col("simhash").isNotNull()).select("text").collect()
    ]
    with tracer.span("hashing"):
        signatures_batch(
            texts, cfg.k_shingle, cfg.minhash_params, winnow_w=cfg.containment_winnow_w
        )

    # counters, read from the materialized layer outputs after the spans
    docs = outputs["docs"]
    sigs = matchable(docs).filter(F.col("id") == F.col("rep_id")).filter(
        F.col("simhash").isNotNull() & ~F.col("simhash").isin(list(cfg.blacklist))
    )
    band_cand = (
        bj.explode_bands(sigs, "id", "simhash", cfg.simhash_bands)
        .groupBy("band_id", "band_key")
        .count()
        .select(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
        or 0
    )
    cluster_kinds = inspect.signature(pl.dedup_pipeline).parameters["cluster_kinds"].default
    edges = outputs["pairs"].filter(F.col("kind").isin(list(cluster_kinds))).count()
    components = (
        out["clusters"].groupBy("cluster_id").count().filter(F.col("count") > 1).count()
    )
    n = {k: outputs[k].count() for k in ("exact", "hot_keys", "sim", "mh_cand", "jaccard", "cont")}

    busy = tracer.self_seconds()
    stages = spans.stage_totals(sc)
    execs = spans.sql_executions(spark)
    for layer in ("textprep", "udfs"):
        nodes = sum(e["python_eval_nodes"] for e in execs if e["description"] == tracer.tag(layer))
        if not nodes:
            errors.append(f"traced {layer}: no executed plan has Python-eval nodes")
    wall = tracer.total_seconds("pipeline")
    tracer.write(os.path.join(env.out_dir, f"spans-{env.workload}-s{env.seed}.json"))

    m: dict[str, float] = {}
    for layer in ("textprep", "udfs", "exact", "banded_join", "lsh", "containment",
                  "pipeline.build_pairs", "cluster"):
        st = stages.get(tracer.tag(layer), {})
        run_s = st.get("executor_run_s", 0.0)
        m[f"{layer}.executor_run_s"] = run_s
        m[f"{layer}.cpu_util"] = run_s / (busy[layer] * env.cores) if busy.get(layer) else 0.0
        if layer != "pipeline.build_pairs":
            m[f"{layer}.busy_s"] = busy.get(layer, 0.0)
        if layer in ("banded_join", "lsh", "containment"):
            m[f"{layer}.shuffle_bytes"] = st.get("shuffle_bytes", 0.0)
    m["containment.spill_bytes"] = stages.get(tracer.tag("containment"), {}).get("spill_bytes", 0.0)
    m["hashing.busy_s"] = busy["hashing"]
    m["hashing.docs_per_core_s"] = len(texts) / busy["hashing"] if busy["hashing"] else 0.0
    m["udfs.boundary_s"] = busy["udfs"] - busy["hashing"] / env.cores
    m["exact.edges"] = n["exact"]
    m["banded_join.pairs"] = n["sim"]
    m["banded_join.hot_keys"] = n["hot_keys"]
    m["banded_join.verify_yield"] = n["sim"] / band_cand if band_cand else 0.0
    m["lsh.candidates"] = n["mh_cand"]
    m["lsh.verified"] = n["jaccard"]
    m["lsh.verify_yield"] = n["jaccard"] / n["mh_cand"] if n["mh_cand"] else 0.0
    m["containment.pairs"] = n["cont"]
    m["pipeline.build_pairs.residual_s"] = busy["pipeline.build_pairs"]
    m["cluster.edges"] = edges
    m["cluster.components"] = components
    m["cluster.fast_path"] = 1.0 if edges <= SMALL_GRAPH_CAP else 0.0
    m["trace.wall_s"] = wall
    m["trace.residual_s"] = busy["pipeline"]
    m["trace.overhead_s"] = wall - untraced_wall
    if busy["pipeline"] > RESIDUAL_SHARE_LIMIT * wall:
        print(
            f"perfbench: traced residual {busy['pipeline']:.2f}s is over "
            f"{RESIDUAL_SHARE_LIMIT:.0%} of the traced wall {wall:.2f}s",
            file=sys.stderr,
        )
    return m
