"""``curation``: rebuild the shared scratch artifacts, then run the
consumers that read them, over a seeded corpus.

One pass = clear the corpus's scratch artifacts (untimed), build each
artifact of ``ARTIFACTS`` through ``all_artifacts()`` (timed, in
dependency order), then run ``CONSUMERS`` into the noop sink in
seed-shuffled order (timed).  Between ops the benchmark unpersists
leftover blocks and collects Python and JVM garbage, outside every
timer.  Set-up builds the session and runs one untimed warm pass over
the same corpus, as a user's first run would (no housekeeping); that
pass collects each consumer's rows, which are checked against the
DuckDB oracles after the timed window.
"""

from __future__ import annotations

import random
import shutil
import time

from common import Tracer, housekeeping, median, op_metrics, read_event_log, spark_layer

#: every scratch artifact the consumers below read, in build order
ARTIFACTS = (
    "tok_distinct",
    "bigram_shingles",
    "trigram_postings",
    "shingle_pair_stats",
    "token_counts",
    "dedup_clusters",
    "label_centroids",
)

#: In registry order: the first reader of each artifact, plus the first
#: Python-worker consumer of queries.llm (operators.multimodal) and of
#: queries.similarity (mapInPandas batched kNN).  Fixed by what each
#: query reads, never by how long it takes.
CONSUMERS = (
    "q_lsh_band_stats",  # tok_distinct
    "q_mm_imagedup",  # mapInPandas media decode
    "q_sim_knn_join",  # mapInPandas scoring
    "q_text_hapax",  # token_counts
    "q_dedup_semantic",  # label_centroids, applyInPandas
    "q_text_crossdup",  # trigram_postings
    "q_dedup_keep_best",  # dedup_clusters
    "q_sim_ngram",  # shingle_pair_stats <- bigram_shingles
)

N_DOCS = 500
N_VECS = 500


def _artifact_files(path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def run(args, run_dir, pinned: dict, sampler) -> dict:
    import gen

    data_dir = run_dir / "data"
    gen.write_corpus(data_dir, args.seed, N_DOCS, N_VECS)
    sf_dir = str(data_dir)

    from pgshovel_spark.operators.scratch import SCRATCH_ROOT, artifact_path, clear_scratch
    from pgshovel_spark.queries import all_artifacts, all_oracles, all_queries
    from pgshovel_spark.session import get_session
    from tools.selfcheck import canonical

    tracer = Tracer(args.trace)
    queries, builds = all_queries(), all_artifacts()
    order = list(CONSUMERS)
    random.Random(args.seed).shuffle(order)
    cores = int(pinned["SPARK_GRAFT_CPUS"])
    attempted = failed = 0
    errors: list[str] = []

    sampler.start()
    with tracer.span("run", workload="curation", seed=args.seed):
        with tracer.span("setup") as setup:
            with tracer.span("session.build") as build_span:
                spark = get_session("perfbench-curation")
            sc = spark.sparkContext
            clear_scratch(spark, sf_dirs=[sf_dir])
            hash_s = 0.0
            spark_hashes: dict[str, tuple] = {}
            with tracer.span("warm_pass") as warm:
                for name in ARTIFACTS:
                    sc.setJobGroup(f"warm:{name}", name)
                    builds[name](spark, sf_dir)
                for name in order:
                    sc.setJobGroup(f"warm:{name}", name)
                    try:
                        pdf = queries[name](spark, sf_dir).toPandas()
                    except Exception as e:  # a failing consumer is a failed op
                        errors.append(f"warm {name}: {type(e).__name__}: {e}")
                        continue
                    t = time.perf_counter()
                    spark_hashes[name] = canonical(pdf)
                    hash_s += time.perf_counter() - t
        setup_s = setup.seconds - hash_s

        passes: list[dict] = []
        t_window = time.perf_counter()
        while not passes or time.perf_counter() - t_window < args.seconds:
            p = len(passes)
            clear_scratch(spark, sf_dirs=[sf_dir])
            rec = {"build": {}, "consume": {}, "define": 0.0, "run": 0.0, "files": 0, "bytes": 0}
            with tracer.span("pass", index=p):
                for name in ARTIFACTS:
                    housekeeping(spark)
                    sc.setJobGroup(f"p{p}:{name}", name)
                    attempted += 1
                    with tracer.span("op", step=name, kind="build") as op:
                        try:
                            builds[name](spark, sf_dir)
                        except Exception as e:
                            failed += 1
                            errors.append(f"pass {p} build {name}: {type(e).__name__}: {e}")
                    rec["build"][name] = op.seconds
                    if args.trace:
                        n, b = _artifact_files(artifact_path(name, sf_dir))
                        rec["files"] += n
                        rec["bytes"] += b
                for name in order:
                    housekeeping(spark)
                    sc.setJobGroup(f"p{p}:{name}", name)
                    attempted += 1
                    with tracer.span("op", step=name, kind="consume") as op:
                        try:
                            with tracer.span("define") as d:
                                df = queries[name](spark, sf_dir)
                            with tracer.span("execute") as x:
                                df.write.format("noop").mode("overwrite").save()
                        except Exception as e:
                            failed += 1
                            errors.append(f"pass {p} {name}: {type(e).__name__}: {e}")
                            continue
                    rec["define"] += d.seconds
                    rec["run"] += x.seconds
                    rec["consume"][name] = op.seconds
            rec["wall"] = sum(rec["build"].values()) + rec["define"] + rec["run"]
            passes.append(rec)
        peak_rss_mb = sampler.stop()

        # correctness, outside every timer: DuckDB oracles on the same parquet
        with tracer.span("check"):
            import duckdb

            oracles = all_oracles()
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for name in order:
                attempted += 1
                if name not in spark_hashes:
                    failed += 1
                    continue
                if name not in oracles:
                    continue
                want = canonical(con.sql(oracles[name]).df())
                if want != spark_hashes[name]:
                    failed += 1
                    errors.append(f"oracle mismatch {name}: spark={spark_hashes[name]} duckdb={want}")
            con.close()

    app_dir = SCRATCH_ROOT / sc.applicationId
    clear_scratch(spark, sf_dirs=[sf_dir])
    spark.stop()
    shutil.rmtree(app_dir, ignore_errors=True)

    walls = [p["wall"] for p in passes]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "throughput_per_s": N_DOCS * len(passes) / sum(walls),
        "latency_p50_s": median(walls),
    }
    detail = {
        "docs_per_s": metrics["throughput_per_s"],
        "session_build_s": build_span.seconds,
        "warm_pass_s": warm.seconds - hash_s,
        "pass_s": walls,
        "n_docs": N_DOCS,
        "passes": len(passes),
        "order": order,
        "build_s": [p["build"] for p in passes],
        "consume_s": [p["consume"] for p in passes],
        "errors": errors[:10],
    }
    layer = {}
    if args.trace:
        n_ops = len(passes) * (len(ARTIFACTS) + len(order))
        ops = op_metrics(
            read_event_log(run_dir / "eventlog"),
            lambda props: props.get("spark.jobGroup.id")
            if str(props.get("spark.jobGroup.id", "")).startswith("p")
            else None,
        )
        layer = spark_layer(ops, sum(walls), n_ops, cores)
        layer.update(
            {
                "session.build_s": build_span.seconds,
                "session.warm_pass_s": warm.seconds - hash_s,
                "queries.define_s": median([p["define"] for p in passes]),
                "queries.run_s": median([p["run"] for p in passes]),
                "operators.scratch.build_s": median([sum(p["build"].values()) for p in passes]),
                "operators.scratch.min_build_s": min(min(p["build"].values()) for p in passes),
                "operators.scratch.consume_s": median([p["define"] + p["run"] for p in passes]),
                "operators.scratch.files": median([p["files"] for p in passes]),
                "operators.scratch.mb": median([p["bytes"] / 1e6 for p in passes]),
                "trace.op_wall_s": median(walls),
            }
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "detail": detail,
        "tracer": tracer,
    }

