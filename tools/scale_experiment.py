"""N× scale experiment for the heaviest operators (default 100×).

Replicates the sf0.1 corpus ×N with content perturbations chosen so that
TRUE-DUPLICATE DENSITY STAYS CONSTANT — the round-1 10× run showed that
naive replication makes every replica a genuine near-dup and the output
(pair count) explodes quadratically in N, measuring output size instead of
operator throughput:

- documents: every token is suffixed with the replica id, so replica
  groups share no shingles; the corpus's intrinsic near-dup pairs
  replicate ×N (output grows linearly with data).
- embeddings: each replica circularly rotates the vector by (rep mod dim)
  positions; rotated groups of random-ish vectors are near-orthogonal, so
  near-dup pairs again replicate ×N.

LSH banding is widened with log2(n) — at a fixed band width the expected
bucket occupancy (and so the candidate-pair count) grows linearly with
corpus size; keeping buckets/band ≈ n/16 holds per-bucket work constant,
which is exactly the knob a 100 TB deployment turns.  This is reported,
not hidden (BENCH.md).

Results are recorded in BENCH.md.  Data is cached under
``.scale_cache/`` (gitignored).

Usage: python tools/scale_experiment.py [replicas] [op ...]
       ops ⊆ {minhash, simhash, embdup, embdup_bcast, salted}
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CACHE = "/root/repo/.scale_cache"


def build(spark, replicas: int) -> tuple[str, str]:
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs_path = f"{CACHE}/r{replicas}_documents.parquet"
    emb_path = f"{CACHE}/r{replicas}_embeddings.parquet"
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    if not os.path.exists(docs_path):
        docs = read_parquet_table(spark, SF, "documents").select("doc_id", "text")
        big = docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), F.lit(r"(\S+)"), F.concat(F.lit("$1x"), F.col("rep"))
            ).alias("text"),
        )
        big.repartition(64).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(emb_path):
        emb = read_parquet_table(spark, SF, "embeddings").select("vec_id", "embedding")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            # rotate by (rep mod 64); sign-flip the second rotation cycle so
            # rep and rep+64 aren't identical vectors (cos −1, not +1)
            F.expr(
                "transform("
                " concat(slice(embedding, pmod(rep, 64) + 1, 64 - pmod(rep, 64)),"
                "        slice(embedding, 1, pmod(rep, 64))),"
                " x -> x * cast(1 - 2 * pmod(rep div 64, 2) as float))"
            ).alias("embedding"),
        )
        big.repartition(32).write.mode("overwrite").parquet(emb_path)
    return docs_path, emb_path


def timed(label: str, thunk) -> None:
    t0 = time.time()
    n = thunk()
    print(f"{label}: {n} rows in {time.time() - t0:.1f}s", flush=True)


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    only = set(sys.argv[2:]) or {"minhash", "simhash", "embdup", "salted"}

    from es_ch_sync_spark.operators import dedup as dd
    from es_ch_sync_spark.operators import similarity as sim
    from es_ch_sync_spark.operators.joins import salted_agg
    from es_ch_sync_spark.session import get_spark

    spark = get_spark("scale_experiment")
    docs_path, emb_path = build(spark, replicas)
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    n_docs, n_vecs = docs.count(), emb.count()
    print(f"replicas={replicas}: {n_docs} docs, {n_vecs} vectors", flush=True)

    # widen banding with corpus size: buckets/band ≈ n/16
    bits = max(4, min(15, math.ceil(math.log2(max(n_vecs, 16) / 16))))
    n_planes = 4 * bits
    print(f"embedding banding: {n_planes} planes, 4 bands of {bits} bits", flush=True)

    if "minhash" in only:
        timed(
            f"minhash_near_dup x{replicas}",
            lambda: dd.minhash_near_duplicates(docs, threshold=0.5).count(),
        )
    if "simhash" in only:
        timed(
            f"simhash_near_dup x{replicas}",
            lambda: dd.simhash_near_duplicates(docs).count(),
        )
    if "embdup" in only:
        timed(
            f"embedding_near_dup x{replicas} (scale tier, join-attach)",
            lambda: sim.embedding_near_duplicates(
                emb, threshold=0.4, n_planes=n_planes, bands=4,
                max_broadcast_rows=0,
            ).count(),
        )
    if "embdup_bcast" in only:
        timed(
            f"embedding_near_dup x{replicas} (broadcast tier)",
            lambda: sim.embedding_near_duplicates(
                emb, threshold=0.4, n_planes=n_planes, bands=4,
                max_broadcast_rows=10**12,
            ).count(),
        )
    if "inc" in only:
        timed(
            f"minhash_incremental x{replicas} (10% batch vs 90% index)",
            lambda: dd.minhash_incremental(
                docs, F.col("doc_id") % 10 == 0, threshold=0.5
            ).count(),
        )
    if "cc_star" in only:
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5).cache()
        pairs.count()
        timed(
            f"connected_components_star x{replicas}",
            lambda: dd.connected_components_star(pairs).count(),
        )
        pairs.unpersist()
    if "shuffle" in only:
        from es_ch_sync_spark.operators.sampling import global_shuffle

        timed(
            f"global_shuffle x{replicas}",
            lambda: global_shuffle(docs).count(),
        )
    if "qbudget" in only:
        from es_ch_sync_spark.operators.sampling import quality_budget_select

        budget = 20_000 * replicas  # keep the selected fraction constant
        timed(
            f"quality_budget_select x{replicas} (global-window tier)",
            lambda: quality_budget_select(
                docs, budget_tokens=budget, small_corpus_rows=10**12
            ).count(),
        )
        timed(
            f"quality_budget_select x{replicas} (stratum tier)",
            lambda: quality_budget_select(
                docs, budget_tokens=budget, small_corpus_rows=0
            ).count(),
        )
    if "asof" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import asof_join, asof_join_bucketed

        ev = read_parquet_table(spark, SF, "events")
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        big_ev = (
            ev.crossJoin(reps2)
            .select(
                (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
                (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
                (F.col("ts") + F.expr("make_interval(0,0,0,0,0,0,rep)")).alias("ts"),
                "event_type",
                "value",
            )
            .persist()
        )
        big_ev.count()
        errors = big_ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
        purch = big_ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("purchase_value")
        )
        timed(
            f"asof_join union-window x{replicas}",
            lambda: asof_join(
                errors, purch, key="user_id", right_cols=["purchase_value"],
                tolerance_seconds=6 * 3600,
            ).count(),
        )
        timed(
            f"asof_join_bucketed x{replicas}",
            lambda: asof_join_bucketed(
                errors, purch, key="user_id", id_col="event_id",
                right_cols=["purchase_value"], tolerance_seconds=6 * 3600,
            ).count(),
        )
        big_ev.unpersist()
    if "salted" in only:
        # skewed aggregation: one hot key holds ~40% of 10M rows
        n = 10_000_000
        skewed = spark.range(n).select(
            F.when(F.col("id") % 5 < 2, F.lit(7)).otherwise(F.col("id") % 100_000).alias("k"),
            (F.col("id") % 997).cast("double").alias("x"),
        )
        skewed = skewed.persist()
        skewed.count()
        timed(
            "plain groupBy agg (skewed key)",
            lambda: skewed.groupBy("k").agg(F.sum("x"), F.count(F.lit(1))).count(),
        )
        timed(
            "salted_agg (skewed key)",
            lambda: salted_agg(
                skewed, "k", [("sum", "x", "sx"), ("count", "x", "n")], salt=16
            ).count(),
        )
        skewed.unpersist()
    if "domcap" in only:
        from es_ch_sync_spark.operators.web import cap_per_domain

        # planted 30% head-domain skew (judge directive r7 #4): 5M docs,
        # 30% on one domain, the rest Zipf-ish over 100k domains; payload
        # is a ~200-byte text column that must NOT enter the domain sort.
        n = 50_000 * replicas
        corpus = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("https://"),
                F.when(F.col("id") % 10 < 3, F.lit("head-domain.com")).otherwise(
                    F.concat(F.lit("site"), F.pmod(F.xxhash64("id"), F.lit(100_000)))
                ),
                F.lit("/page/"),
                F.col("id").cast("string"),
            ).alias("url"),
            F.repeat(F.concat(F.lit("payload "), F.col("id").cast("string")), 20).alias(
                "text"
            ),
        )
        corpus = corpus.persist()
        corpus.count()
        timed(
            f"cap_per_domain x{replicas} ({n} docs, 30% one domain, cap=100)",
            lambda: cap_per_domain(corpus, cap=100).count(),
        )
        corpus.unpersist()
    if "chunk" in only:
        from es_ch_sync_spark.operators.features import chunk_documents

        timed(
            f"chunk_documents x{replicas}",
            lambda: chunk_documents(docs).count(),
        )
    if "gram" in only:
        from es_ch_sync_spark.operators.features import embedding_gram

        timed(
            f"embedding_gram x{replicas} ({n_vecs} vectors)",
            lambda: embedding_gram(emb, dim=64).count(),
        )
    if "fingerprint" in only:
        from es_ch_sync_spark.operators.features import (
            fingerprint_nearest_neighbor,
        )

        # replica token-suffixing keeps vocabularies disjoint across
        # replicas, so inverted-index blocks stay replica-local and the
        # candidate count grows linearly with the corpus
        timed(
            f"fingerprint_nn x{replicas}",
            lambda: fingerprint_nearest_neighbor(docs, k_terms=4).count(),
        )
    if "bloom" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.features import bloom_semijoin_audit

        reps3 = spark.range(replicas).select(F.col("id").alias("rep"))
        cust = read_parquet_table(spark, SF, "customer")
        orders = read_parquet_table(spark, SF, "orders")
        big_orders = orders.crossJoin(reps3).select(
            (F.col("o_orderkey") + F.col("rep") * 1_000_000_000).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_orderpriority",
        ).persist()
        big_orders.count()
        timed(
            f"bloom_semijoin_audit x{replicas} (probe side x{replicas})",
            lambda: bloom_semijoin_audit(
                cust.filter(F.col("c_mktsegment") == "BUILDING"),
                big_orders,
                build_key="c_custkey",
                probe_key="o_custkey",
                probe_id="o_orderkey",
                group_col="o_orderpriority",
            ).count(),
        )
        big_orders.unpersist()
    if "heavy" in only:
        from es_ch_sync_spark.operators.sketches import heavy_hitters_exact

        # skewed key stream: 5 hot keys carry 3/4 of N x replicas rows,
        # cold tail is per-row unique (the full key space is never grouped)
        n = 100_000 * replicas
        keyed = spark.range(n).select(
            F.when(
                F.col("id") % 4 < 3, F.concat(F.lit("hot:"), (F.col("id") % 5))
            )
            .otherwise(F.concat(F.lit("cold:"), F.col("id")))
            .alias("key")
        )
        timed(
            f"heavy_hitters x{replicas} ({n} rows, ~{n // 4 + 5} distinct keys)",
            lambda: heavy_hitters_exact(keyed, "key", k=64).count(),
        )
    if "geo" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.geo import radius_join, trajectory_stats
        from es_ch_sync_spark.operators.sketches import HASH_SPACE, hash56

        ev = read_parquet_table(spark, SF, "events")
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        pts = (
            ev.crossJoin(reps2)
            .select(
                (F.col("event_id") + F.col("rep") * 100_000_000).alias("pid"),
                (F.col("user_id") + F.col("rep") * 1_000_000).alias("uid"),
                "ts",
                (F.lit(40.0) + hash56(F.col("event_id") + F.col("rep") * 100_000_000, seed="lat") / F.lit(HASH_SPACE) * 2).alias("lat"),
                (F.lit(-75.0) + hash56(F.col("event_id") + F.col("rep") * 100_000_000, seed="lon") / F.lit(HASH_SPACE) * 2).alias("lon"),
            )
            .persist()
        )
        npts = pts.count()
        qs = spark.createDataFrame(
            [(i, 40.0 + (i % 20) * 0.1, -75.0 + (i // 20) * 0.1) for i in range(100)],
            "qid int, q_lat double, q_lon double",
        )
        timed(
            f"geo_radius_join x{replicas} ({npts} pts, 100 landmarks, 5km)",
            lambda: radius_join(pts, qs, radius_km=5.0).count(),
        )
        timed(
            f"geo_trajectory x{replicas} ({npts} pts)",
            lambda: trajectory_stats(pts, "uid", "ts").count(),
        )
        pts.unpersist()
    if "bpe" in only:
        from es_ch_sync_spark.operators.text import bpe_train

        # replica-suffixed tokens multiply the vocab x replicas — the
        # worst case for the word-table loop (natural corpora grow vocab
        # by Heaps' law, far slower)
        timed(
            f"bpe_train x{replicas} (8 merges, {n_docs} docs)",
            lambda: len(bpe_train(docs, n_merges=8)),
        )
    if "ewma" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import ewma_last

        ev = read_parquet_table(spark, SF, "events")
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        big_ev = ev.crossJoin(reps2).select(
            (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
            (F.col("ts") + F.expr("make_interval(0,0,0,0,0,0,rep)")).alias("ts"),
            "event_id",
            "value",
        )
        timed(
            f"ewma_last x{replicas} (per-user sorted folds)",
            lambda: ewma_last(
                big_ev.filter(F.col("value").isNotNull()),
                "user_id",
                ["ts", "event_id"],
                "value",
                alpha=0.3,
            ).count(),
        )
    if "ivm" in only:
        import shutil
        import tempfile

        from es_ch_sync_spark.io.ivm import refresh_rollup_view
        from es_ch_sync_spark.io.txlog import txlog_append

        root = tempfile.mkdtemp(prefix="ivm_scale_")
        fact, view = f"{root}/fact", f"{root}/view"
        # seed: replicas x events already in the fact table + maintained view
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events").select(
            "event_id", "event_type", "value"
        )
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        seed = ev.crossJoin(reps2).select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "event_type",
            "value",
        )
        txlog_append(seed, fact)
        timed(
            f"ivm initial full build x{replicas}",
            lambda: refresh_rollup_view(spark, fact, view, ["event_type"], "value")[
                "fact_version"
            ]
            + 1,
        )
        # delta: ONE sf0.1 batch appended to the x{replicas} fact
        txlog_append(ev, fact)
        timed(
            "ivm delta refresh (1 batch onto the big fact)",
            lambda: refresh_rollup_view(spark, fact, view, ["event_type"], "value")[
                "fact_version"
            ]
            + 1,
        )
        shutil.rmtree(root)
    if "peak" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import interval_concurrency

        ev = read_parquet_table(spark, SF, "events").filter(
            F.col("value").isNotNull()
        )
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        iv = ev.crossJoin(reps2).select(
            (F.col("ts") + F.expr("make_interval(0,0,0,0,0,0,rep)")).alias("s"),
            (
                F.col("ts")
                + F.expr("make_interval(0,0,0,0,0,0,rep)")
                + F.expr("make_interval(0,0,0,0,0,cast(value as int) % 120,0)")
            ).alias("e"),
        )
        timed(
            f"interval_concurrency x{replicas} (sweep-line, day buckets)",
            lambda: interval_concurrency(iv, "s", "e", bucket="day").count(),
        )
    if "kfold" in only:
        from es_ch_sync_spark.operators.sampling import kfold_assign

        timed(
            f"kfold_assign x{replicas} (grouped by doc_id%1000)",
            lambda: kfold_assign(
                docs.withColumn("grp", F.col("doc_id") % 1000),
                k=5,
                group_col="grp",
            ).count(),
        )
    if "oversample" in only:
        from es_ch_sync_spark.operators.sampling import oversample_balance

        # skewed classes: 80% majority, 7 minorities sharing the rest
        classed = docs.withColumn(
            "cls",
            F.when(F.col("doc_id") % 10 < 8, F.lit("major")).otherwise(
                F.concat(F.lit("min"), F.col("doc_id") % 7)
            ),
        )
        timed(
            f"oversample_balance x{replicas}",
            lambda: oversample_balance(classed, "cls").count(),
        )
    if "ppjoin" in only:
        from es_ch_sync_spark.operators.dedup import prefix_filter_pairs

        # replica-suffixed tokens keep shingle vocabularies disjoint, so
        # prefix blocks stay replica-local: candidates grow linearly
        timed(
            f"ppjoin_pairs x{replicas} (exact Jaccard>=0.6)",
            lambda: prefix_filter_pairs(docs, shingle_k=3, threshold=0.6).count(),
        )
    if "ppjoin_heaps" in only:
        # Judge directive r4 #5: the replica corpus's tiny vocabulary is
        # suspected (not proven) to defeat prefix filtering.  This op
        # builds a HEAPS-LAW corpus — vocabulary V = 30·√(total tokens),
        # token ranks Zipf-sampled via V^u (inverse CDF for s≈1) — with
        # planted near-dup pairs (every 100th doc copies its predecessor
        # except slots 0-5 → shingle Jaccard ≈ 0.81), and reports the
        # CANDIDATE-REDUCTION RATIO: prefix-join candidates vs all pairs.
        from pyspark.sql import Window as W

        from es_ch_sync_spark.operators.dedup import (
            prefix_filter_pairs,
            word_shingles,
        )

        n_docs = 5_000 * replicas
        tokens_per_doc = 60
        v = int(30 * math.sqrt(n_docs * tokens_per_doc))
        heaps = spark.range(n_docs).selectExpr(
            "id AS doc_id",
            # content id: planted copies (doc_id % 100 == 1) reuse the
            # predecessor's hash stream for slots >= 6
            f"""concat_ws(' ', transform(sequence(0, {tokens_per_doc - 1}),
                s -> concat('t', cast(floor(pow({v},
                  (abs(xxhash64(CASE WHEN id % 100 = 1 AND s >= 6
                                     THEN id - 1 ELSE id END, s))
                   % 1000000) / 1e6)) AS long)))) AS text""",
        )
        heaps = heaps.repartition(64).persist()
        print(f"heaps corpus: {heaps.count()} docs, vocab~{v}", flush=True)

        # candidate count: mirror of prefix_filter_pairs' candidate stage
        # (dedup.py prefix join) so the reduction ratio is measurable
        def cand_count() -> int:
            sets = (
                heaps.select(
                    F.col("doc_id"),
                    word_shingles(F.col("text"), 3).alias("ts"),
                )
                .withColumn("n", F.size("ts"))
                .where(F.col("n") > 0)
            )
            toks = sets.select("doc_id", "n", F.explode("ts").alias("tok"))
            dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
            ranked = toks.join(dfreq, "tok").withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("doc_id").orderBy(F.col("f"), F.col("tok"))
                ),
            )
            plen = F.col("n") - F.ceil(F.lit(0.6) * F.col("n")) + 1
            prefix = ranked.where(F.col("rn") <= plen).select("doc_id", "tok")
            a, b = prefix.alias("a"), prefix.alias("b")
            return (
                a.join(
                    b,
                    (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(F.col("a.doc_id"), F.col("b.doc_id"))
                .distinct()
                .count()
            )

        t0 = time.time()
        n_cand = cand_count()
        all_pairs = n_docs * (n_docs - 1) // 2
        print(
            f"ppjoin_heaps x{replicas}: {n_cand} candidates of "
            f"{all_pairs} possible pairs "
            f"(reduction {all_pairs / max(n_cand, 1):.0f}x, "
            f"{n_cand / n_docs:.1f} cand/doc) in {time.time() - t0:.1f}s",
            flush=True,
        )
        timed(
            f"ppjoin_heaps x{replicas} full (exact Jaccard>=0.6)",
            lambda: prefix_filter_pairs(heaps, shingle_k=3, threshold=0.6).count(),
        )
        heaps.unpersist()
    if "qld11" in only:
        from es_ch_sync_spark.operators.text import bm25_topk, qld_topk

        # replica corpus suffixes tokens with the replica id — use the
        # replica-7 terms (the rankeval convention) so postings are real
        terms = ["sparkx7", "mergex7", "streamx7"]
        timed(
            f"qld_topk x{replicas} (mu=2000, k=10)",
            lambda: qld_topk(docs, terms, k=10, mu=2000).count(),
        )
        timed(
            f"bm25_topk x{replicas} (k=10, same terms)",
            lambda: bm25_topk(docs, terms, k=10).count(),
        )
    if "boiler" in only:
        from es_ch_sync_spark.operators.dedup import remove_boilerplate_chunks

        # replica corpus: token suffixes make replicas chunk-disjoint, so
        # boilerplate frequency reflects the base corpus's real repeats ×N.
        # plain count() would let Catalyst ELIMINATE the unique-key left
        # join and prune clean_text entirely — aggregate over the real
        # outputs to force the full pipeline
        timed(
            f"boilerplate_chunks x{replicas} (c=4, min_docs=2)",
            lambda: remove_boilerplate_chunks(docs, chunk_tokens=4, min_docs=2)
            .agg(
                F.sum(F.length("clean_text")).alias("bytes"),
                F.sum("n_boiler_chunks").alias("b"),
            )
            .collect()[0]["b"],
        )
    if "bm25" in only:
        from es_ch_sync_spark.operators.text import bm25_topk

        # query terms carry replica-0's suffix; cost is dominated by the
        # corpus-wide tokenize+filtered-explode, which is the scale path
        timed(
            f"bm25_topk x{replicas}",
            lambda: bm25_topk(
                docs, ["sparkx0", "mergex0", "streamx0"], k=15
            ).count(),
        )
    if "contam" in only:
        from es_ch_sync_spark.operators.sampling import contamination_report

        timed(
            f"contamination_report x{replicas} (5-grams)",
            lambda: contamination_report(docs, ngram_k=5).count(),
        )
    if "dupspan" in only:
        from es_ch_sync_spark.operators.dedup import remove_dup_spans

        # replica-suffixed tokens keep k-grams replica-local: the
        # duplicated-gram table and span output replicate linearly
        timed(
            f"remove_dup_spans x{replicas} (k=8)",
            lambda: remove_dup_spans(docs, k=8).count(),
        )
    if "bloomidx" in only:
        import shutil
        import tempfile

        from es_ch_sync_spark.io.bloom_index import (
            build_bloom_index,
            candidate_files,
            point_lookup,
        )

        root = tempfile.mkdtemp(prefix="bloom_scale_")
        table, index = f"{root}/t", f"{root}/idx"
        n = 100_000 * replicas
        spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 997).alias("payload")
        ).repartitionByRange(64, "k").write.mode("overwrite").parquet(table)
        # size the filter to the keys-per-file: 10M/64 = 156k keys needs
        # m = 2^21 bits (32 KB/file) for ~0.3% FPR — the knob a real
        # deployment turns with file size
        m = 1 << 21
        timed(
            f"bloom_index build x{replicas} ({n} keys, 64 files, m=2^21)",
            lambda: build_bloom_index(spark, table, index, "k", bits_per_file=m),
        )
        t0 = time.time()
        cands = candidate_files(spark, index, 777_777, bits_per_file=m)
        got = point_lookup(spark, table, index, "k", 777_777, bits_per_file=m).count()
        print(
            f"bloom point lookup: {got} row via {len(cands)}/64 files "
            f"in {time.time() - t0:.1f}s",
            flush=True,
        )
        shutil.rmtree(root)
    if "spectral" in only:
        from es_ch_sync_spark.operators.features import (
            embedding_anisotropy,
            pca_top_component,
        )

        timed(
            f"pca_top_component x{replicas} ({n_vecs} vectors)",
            lambda: pca_top_component(emb).count(),
        )
        timed(
            f"embedding_anisotropy x{replicas} ({n_vecs} vectors)",
            lambda: embedding_anisotropy(emb).count(),
        )
    if "bootstrap" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import poisson_bootstrap_means

        ev = read_parquet_table(spark, SF, "events")
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        big = ev.crossJoin(reps2).select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "value",
        )
        timed(
            f"poisson_bootstrap x{replicas} (32 replicates over {replicas}x events)",
            lambda: poisson_bootstrap_means(
                big, "value", "event_id", replicates=32
            ).count(),
        )
    if "kldiv" in only:
        from es_ch_sync_spark.operators.text import source_divergence

        classed = docs.withColumn(
            "source", F.concat(F.lit("src"), F.col("doc_id") % 20)
        )
        timed(
            f"source_divergence x{replicas} (20 sources)",
            lambda: source_divergence(classed).count(),
        )
    if "negsample" in only:
        from es_ch_sync_spark.operators.sampling import negative_sample_pairs

        # r5: the dense-id contract is gone — run DIRECTLY on the sparse
        # replica ids (orig + rep*1e6); the operator dense-ranks them with
        # the two-phase bucketed rank internally
        sparse = docs.select("doc_id").withColumn(
            "source", (F.col("doc_id") % 7).cast("string")
        )
        timed(
            f"negative_sample_pairs x{replicas} (k=4, sparse ids)",
            lambda: negative_sample_pairs(sparse, k=4).count(),
        )

    if "dsir" in only:
        from es_ch_sync_spark.operators.sampling import dsir_select

        timed(
            f"dsir_select x{replicas} (B=4096 hashed-ngram model)",
            lambda: dsir_select(
                docs, target=F.col("doc_id") % 7 == 0,
                n_select=100 * replicas, n_buckets=4096,
            ).count(),
        )
    if "lr" in only:
        from es_ch_sync_spark.operators.text import quality_lr_scores

        timed(
            f"quality_lr_scores x{replicas} (3 GD iters + full scoring)",
            lambda: quality_lr_scores(
                docs, label=F.col("doc_id") % 7 == 0, iters=3
            ).count(),
        )
    if "margin" in only:
        from es_ch_sync_spark.operators.similarity import margin_mine_ann

        bits2 = max(4, min(15, math.ceil(math.log2(max(n_vecs, 16) / 16))))
        timed(
            f"margin_mine_ann x{replicas} ({4 * bits2} planes, 4 bands)",
            lambda: margin_mine_ann(
                emb.filter(F.col("vec_id") % 2 == 0),
                emb.filter(F.col("vec_id") % 2 == 1),
                n_planes=4 * bits2, bands=4,
            ).count(),
        )
    if "compact" in only:
        import shutil
        import tempfile

        from es_ch_sync_spark.io import txlog as tx
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        t = tempfile.mkdtemp(prefix="scale_compact_") + "/fact"
        n_commits = 64
        t0 = time.time()
        for b in range(n_commits):
            tx.txlog_append(
                ev.filter(F.col("event_id") % n_commits == b).coalesce(1),
                t, stats_cols=["ts"],
            )
        print(f"  {n_commits} micro-appends: {time.time()-t0:.1f}s "
              f"({len(tx.snapshot_files(t))} files)", flush=True)
        timed(
            f"txlog_compact {n_commits} files -> packed",
            lambda: tx.txlog_compact(
                spark, t, target_file_bytes=128 * 1024 * 1024,
                stats_cols=["ts"],
            )["new_files"],
        )
        print(f"  post-compact files: {len(tx.snapshot_files(t))}", flush=True)
        shutil.rmtree(os.path.dirname(t), ignore_errors=True)

    if "web" in only:
        from es_ch_sync_spark.operators.web import (
            cap_per_domain,
            domain_report,
            normalize_url,
        )

        # synthesize a URL per doc the same way queries_web does (five
        # decorated variants per 5-doc group), over the xN corpus
        from es_ch_sync_spark.queries_web import _URL_EXPR

        urls = docs.select("doc_id", F.expr(_URL_EXPR).alias("url")).persist()
        urls.count()
        timed(
            f"url_canonical_groups x{replicas}",
            lambda: urls.select(normalize_url(F.col("url")).alias("c"))
            .groupBy("c").count().count(),
        )
        timed(
            f"domain_report x{replicas}",
            lambda: domain_report(urls).count(),
        )
        timed(
            f"cap_per_domain x{replicas} (cap=100)",
            lambda: cap_per_domain(urls, cap=100).count(),
        )
        urls.unpersist()
    if "wordpiece" in only:
        from es_ch_sync_spark.operators.text import (
            bpe_word_counts,
            wordpiece_encode,
            wordpiece_vocab,
        )

        timed(
            f"wordpiece_vocab x{replicas}",
            lambda: wordpiece_vocab(docs).count(),
        )
        toks = [r["tok"] for r in wordpiece_vocab(docs).collect()]
        print(f"  vocab size {len(toks)}", flush=True)
        timed(
            f"wordpiece_encode_token_freqs x{replicas}",
            lambda: bpe_word_counts(docs)
            .localCheckpoint(eager=False)  # barrier, see q_wordpiece_token_freqs
            .withColumn("toks", wordpiece_encode(F.col("word"), toks))
            .select(F.explode("toks").alias("tok"), "cnt")
            .groupBy("tok").agg(F.sum("cnt")).count(),
        )
    if "seasonal" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import seasonal_decompose

        ev = read_parquet_table(spark, SF, "events")
        reps3 = spark.range(replicas).select(F.col("id").alias("rep"))
        series = (
            ev.crossJoin(reps3)
            .groupBy(
                F.concat(F.col("event_type"), F.lit("#"), F.col("rep")).alias("k"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("y"))
            .persist()
        )
        n_series = series.select("k").distinct().count()
        print(f"  {n_series} series x ~{series.count() // max(n_series,1)} days", flush=True)
        timed(
            f"seasonal_decompose x{replicas} ({n_series} series)",
            lambda: seasonal_decompose(series, key_col="k").count(),
        )
        series.unpersist()
    if "pmi" in only:
        from es_ch_sync_spark.operators.text import words as _words

        toks = docs.select("doc_id", _words(F.col("text")).alias("ws"))
        uni = (
            toks.select(F.explode("ws").alias("w")).filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        )
        bi = (
            toks.select(
                F.explode(F.arrays_zip(
                    F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))).alias("l"),
                    F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))).alias("r"),
                )).alias("p"))
            .select(F.col("p.l").alias("a"), F.col("p.r").alias("b"))
            .filter((F.col("a") != "") & (F.col("b") != ""))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
        )
        timed(
            f"collocations_pmi x{replicas} (uni+bi census)",
            lambda: bi.join(F.broadcast(uni.withColumnRenamed("w", "a")), "a").count(),
        )

    _r7b_sections(spark, docs, replicas, only)
    _r8c_sections(spark, docs, replicas, only)
    _r9_sections(spark, docs, replicas, only)
    _r10_sections(spark, docs, replicas, only)
    _r11_sections(spark, docs, replicas, only)


def _r11_sections(spark, docs, replicas, only):
    """Round-11: containment-first prefix miner (VERDICT r10 #1 with
    candidate-count evidence), re-measures for the de-windowed heaps and
    shared-pass doc_ppl (use 'heapsc4'/'ppl'), and the new eval/corpus
    registrations."""
    if "containpfx" in only:
        from pyspark.sql import Window as _W

        from es_ch_sync_spark.operators.dedup import (
            containment_pairs_prefix,
            word_shingles,
        )
        from es_ch_sync_spark.operators.util import spread

        timed(
            f"containment_pairs_prefix x{replicas} (threshold 0.5, "
            "positional filter, guard raised explicitly)",
            lambda: containment_pairs_prefix(
                docs, threshold=0.5, max_candidates=10**12
            ).count(),
        )

        # candidate-count evidence: how many pairs the prefix front end
        # emits before verification (the r10 verdict's 'done' criterion)
        def _n_cand() -> int:
            sets = (
                spread(docs)
                .select(
                    F.col("doc_id"),
                    word_shingles(F.col("text"), 3).alias("ts"),
                )
                .withColumn("n", F.size("ts"))
                .where(F.col("n") > 0)
            )
            toks = sets.select("doc_id", "n", F.explode("ts").alias("tok"))
            dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
            ranked = toks.join(dfreq, "tok").withColumn(
                "rn",
                F.row_number().over(
                    _W.partitionBy("doc_id").orderBy(F.col("f"), F.col("tok"))
                ),
            )
            plen = F.col("n") - F.ceil(F.lit(0.5) * F.col("n")) + 1
            probe = ranked.where(F.col("rn") <= plen).select(
                F.col("doc_id").alias("_pid"),
                F.col("tok").alias("_ptok"),
                F.col("n").alias("_pn"),
                F.col("rn").alias("_prn"),
            )
            index = ranked.select(
                F.col("doc_id").alias("_fid"), "tok",
                F.col("n").alias("_fn"), F.col("rn").alias("_frn"),
            )
            om = F.ceil(F.lit(0.5) * F.col("_pn"))
            return (
                probe.join(
                    index,
                    (F.col("_ptok") == F.col("tok"))
                    & (F.col("_pid") != F.col("_fid"))
                    & (F.col("_fn") >= om)
                    & (1 + F.least(F.col("_pn") - F.col("_prn"),
                                   F.col("_fn") - F.col("_frn")) >= om),
                )
                .select(
                    F.least("_pid", "_fid").alias("id_a"),
                    F.greatest("_pid", "_fid").alias("id_b"),
                )
                .distinct()
                .count()
            )

        timed(
            f"containment_prefix_candidates x{replicas} (distinct pairs pre-verify)",
            _n_cand,
        )
    if "vcc" in only:
        from es_ch_sync_spark.operators.text import vocab_coverage_curve

        timed(
            f"vocab_coverage_curve x{replicas} (5 checkpoints)",
            lambda: vocab_coverage_curve(docs).count(),
        )
    if "erate" in only:
        from es_ch_sync_spark.operators.text import entropy_rate_bigram

        timed(
            f"entropy_rate_bigram x{replicas}",
            lambda: entropy_rate_bigram(docs).count(),
        )
    if "ari11" in only:
        from es_ch_sync_spark.operators import dedup as _dd
        from es_ch_sync_spark.operators.analytics import adjusted_rand_index
        from es_ch_sync_spark.operators.text import normalize_text

        def _ari() -> int:
            la = docs.select(
                "doc_id", F.md5(normalize_text(F.col("text"))).alias("label_a")
            )
            comp = _dd.connected_components(
                _dd.minhash_near_duplicates(docs, threshold=0.5)
            )
            lb = (
                docs.select("doc_id")
                .join(comp, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                    .cast("string")
                    .alias("label_b"),
                )
            )
            return adjusted_rand_index(la, lb, "doc_id").count()

        timed(f"dedup_ari_exact_vs_lsh x{replicas}", _ari)
    if "gates11" in only:
        from es_ch_sync_spark.operators.analytics import (
            fleiss_kappa,
            mcnemar_test,
        )
        from es_ch_sync_spark.operators.text import (
            c4_line_filters,
            gopher_quality_flags,
        )

        def _mc() -> int:
            ga = gopher_quality_flags(docs).select(
                "doc_id", F.col("passes").alias("pa")
            )
            cb = c4_line_filters(docs).select(
                "doc_id", F.col("keep_page").alias("pb")
            )
            return mcnemar_test(ga.join(cb, "doc_id"), "pa", "pb").count()

        timed(f"mcnemar_gates x{replicas}", _mc)

        def _fk() -> int:
            gf = gopher_quality_flags(docs)
            votes = None
            for col in ("ok_word_count", "ok_symbols", "ok_stopwords"):
                v = gf.select(
                    "doc_id",
                    F.when(F.col(col), F.lit("keep"))
                    .otherwise(F.lit("drop"))
                    .alias("cat"),
                )
                votes = v if votes is None else votes.unionByName(v)
            return fleiss_kappa(votes, "doc_id", "cat", n_raters=3).count()

        timed(f"fleiss_kappa_gates x{replicas}", _fk)
    if "r11b" in only:
        from es_ch_sync_spark.operators import dedup as _dd
        from es_ch_sync_spark.operators.analytics import pairwise_jsd
        from es_ch_sync_spark.operators.graph import k_core_fixed
        from es_ch_sync_spark.operators.sampling import assign_split
        from es_ch_sync_spark.operators.text import mattr_diversity, words

        def _kcore() -> int:
            pairs = _dd.minhash_near_duplicates(docs, threshold=0.5)
            pairs = pairs.localCheckpoint(eager=True)  # time the core, not LSH
            host = "('h' || CAST({c} % 9973 AS STRING))"
            he = pairs.select(
                F.expr(host.format(c="id_a")).alias("src"),
                F.expr(host.format(c="id_b")).alias("dst"),
            ).filter(F.col("src") != F.col("dst"))
            return k_core_fixed(he, k=2, rounds=8).count()

        timed(f"k_core_fixed x{replicas} (k=2, 8 rounds, host graph)", _kcore)
        timed(
            f"mattr_diversity x{replicas} (window 25)",
            lambda: mattr_diversity(docs, window=25).count(),
        )

        def _drift() -> int:
            d = assign_split(docs).select(
                "split",
                F.size(
                    F.filter(words(F.col("text")), lambda t: t != F.lit(""))
                ).cast("long").alias("n_tok"),
            )
            census = d.select(
                "split",
                F.length(
                    F.conv(
                        F.greatest(F.col("n_tok"), F.lit(1)).cast("string"),
                        10, 2,
                    )
                ).cast("int").alias("bucket"),
            ).groupBy("split", "bucket").agg(
                F.count(F.lit(1)).cast("long").alias("c")
            )
            return pairwise_jsd(census, "split", "bucket", "c").count()

        timed(f"split_length_drift x{replicas}", _drift)
    if "containpfx_heaps" in only:
        # back the BENCH r11 claim: on a Heaps-law natural-text corpus the
        # containment prefix miner's candidate set is near the true-pair
        # count (the replica corpus's template vocabulary is the
        # adversarial case).  Same corpus generator as ppjoin_heaps.
        from es_ch_sync_spark.operators.dedup import (
            containment_pairs_prefix,
            word_shingles,
        )
        from pyspark.sql import Window as W

        n_docs = 5_000 * replicas
        tokens_per_doc = 60
        v = int(30 * math.sqrt(n_docs * tokens_per_doc))
        heaps = spark.range(n_docs).selectExpr(
            "id AS doc_id",
            f"""concat_ws(' ', transform(sequence(0, {tokens_per_doc - 1}),
                s -> concat('t', cast(floor(pow({v},
                  (abs(xxhash64(CASE WHEN id % 100 = 1 AND s >= 6
                                     THEN id - 1 ELSE id END, s))
                   % 1000000) / 1e6)) AS long)))) AS text""",
        )
        heaps = heaps.repartition(64).persist()
        print(f"heaps corpus: {heaps.count()} docs, vocab~{v}", flush=True)

        def _cand() -> int:
            sets = (
                heaps.select(
                    F.col("doc_id"),
                    word_shingles(F.col("text"), 3).alias("ts"),
                )
                .withColumn("n", F.size("ts"))
                .where(F.col("n") > 0)
            )
            toks = sets.select("doc_id", "n", F.explode("ts").alias("tok"))
            dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
            ranked = toks.join(dfreq, "tok").withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("doc_id").orderBy(F.col("f"), F.col("tok"))
                ),
            )
            plen = F.col("n") - F.ceil(F.lit(0.5) * F.col("n")) + 1
            probe = ranked.where(F.col("rn") <= plen).select(
                F.col("doc_id").alias("_pid"),
                F.col("tok").alias("_ptok"),
                F.col("n").alias("_pn"),
                F.col("rn").alias("_prn"),
            )
            index = ranked.select(
                F.col("doc_id").alias("_fid"), "tok",
                F.col("n").alias("_fn"), F.col("rn").alias("_frn"),
            )
            om = F.ceil(F.lit(0.5) * F.col("_pn"))
            return (
                probe.join(
                    index,
                    (F.col("_ptok") == F.col("tok"))
                    & (F.col("_pid") != F.col("_fid"))
                    & (F.col("_fn") >= om)
                    & (1 + F.least(F.col("_pn") - F.col("_prn"),
                                   F.col("_fn") - F.col("_frn")) >= om),
                )
                .select(
                    F.least("_pid", "_fid").alias("id_a"),
                    F.greatest("_pid", "_fid").alias("id_b"),
                )
                .distinct()
                .count()
            )

        t0 = time.time()
        n_cand = _cand()
        all_pairs = n_docs * (n_docs - 1) // 2
        print(
            f"containpfx_heaps x{replicas}: {n_cand} candidates of "
            f"{all_pairs} possible (reduction {all_pairs / max(n_cand, 1):.0f}x, "
            f"{n_cand / n_docs:.2f} cand/doc) in {time.time() - t0:.1f}s",
            flush=True,
        )
        timed(
            f"containment_pairs_prefix heaps x{replicas} (threshold 0.5, full verify)",
            lambda: containment_pairs_prefix(heaps, threshold=0.5).count(),
        )
        heaps.unpersist()


def _r10_sections(spark, docs, replicas, only):
    """Round-10: CCNet perplexity buckets, the shared-posting rankeval
    (VERDICT r9 #1 after-measurement), the r9 post-gate registrations,
    and the minhash LSH bucket-skew audit (VERDICT r10 #7)."""
    if "ppl" in only:
        from es_ch_sync_spark.operators.text import doc_perplexity_buckets

        timed(
            f"doc_perplexity_buckets x{replicas} (self-trained trigram LM)",
            lambda: doc_perplexity_buckets(docs).count(),
        )
    if "rankeval2" in only:
        from pyspark.sql import Window as _W

        from es_ch_sync_spark.operators.analytics import ranking_metrics
        from es_ch_sync_spark.operators.text import (
            bm25_posting_table,
            bm25_topk_from_postings,
        )

        # same replica-7 query sets as the r9 'rankeval' section so the
        # before/after walls compare like-for-like
        qsets = {0: ["sparkx7", "mergex7"], 1: ["tablex7", "scanx7"],
                 2: ["sortx7", "windowx7"]}
        allt = sorted({t for ts in qsets.values() for t in ts})

        def _run() -> int:
            posting, stats = bm25_posting_table(docs, allt)
            runs = []
            for qid, terms in qsets.items():
                topk = bm25_topk_from_postings(posting, stats, terms, k=10)
                wq = _W.orderBy(F.desc("bm25"), F.asc("doc_id"))
                runs.append(topk.select(
                    F.lit(qid).alias("query_id"), "doc_id",
                    F.row_number().over(wq).alias("rank")))
            run = runs[0].unionByName(runs[1]).unionByName(runs[2])
            qt = spark.createDataFrame(
                [(q, t) for q, ts in qsets.items() for t in ts],
                "query_id int, term string",
            )
            qrels = (
                posting.filter(F.col("tf") >= 2)
                .join(F.broadcast(qt), "term")
                .groupBy("query_id", "doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("rel"))
            )
            return ranking_metrics(run, qrels, k=10).count()

        timed(
            f"ranking_metrics x{replicas} (shared posting table, 1 corpus scan)",
            _run,
        )
    if "novelty" in only:
        from es_ch_sync_spark.operators.dedup import shingle_novelty

        timed(
            f"shingle_novelty x{replicas}",
            lambda: shingle_novelty(docs).count(),
        )
    if "scripts" in only:
        from es_ch_sync_spark.operators.text import script_ratios

        timed(
            f"script_ratios x{replicas}",
            lambda: script_ratios(docs).count(),
        )
    if "zipfgt" in only:
        from es_ch_sync_spark.operators.text import good_turing_unseen, zipf_fit

        timed(
            f"zipf_fit x{replicas} (top-500 ranks)",
            lambda: zipf_fit(docs, top_ranks=500).count(),
        )
        timed(
            f"good_turing_unseen x{replicas} (3-shingle census)",
            lambda: good_turing_unseen(docs, k=3, max_r=5).count(),
        )
    if "panel" in only:
        # r12 directive #5: corpus_stats_panel (one shared tokenization)
        # vs the sum of its five standalone constituents on the SAME corpus
        from es_ch_sync_spark.operators.text import (
            corpus_stats_panel,
            entropy_rate_bigram,
            good_turing_unseen,
            heaps_law_fit,
            vocab_coverage_curve,
            zipf_fit,
        )

        timed(
            f"corpus_stats_panel x{replicas} (shared pass, 38 rows)",
            lambda: corpus_stats_panel(docs).count(),
        )
        timed(
            f"  standalone zipf_fit x{replicas}",
            lambda: zipf_fit(docs, top_ranks=500).count(),
        )
        timed(
            f"  standalone heaps_law_fit x{replicas}",
            lambda: heaps_law_fit(docs, checkpoints=10).count(),
        )
        timed(
            f"  standalone vocab_coverage x{replicas}",
            lambda: vocab_coverage_curve(docs).count(),
        )
        timed(
            f"  standalone good_turing_unseen x{replicas}",
            lambda: good_turing_unseen(docs, k=3, max_r=5).count(),
        )
        timed(
            f"  standalone entropy_rate_bigram x{replicas}",
            lambda: entropy_rate_bigram(docs).count(),
        )
    if "gpanel" in only:
        # r12 directive #6: host_graph_panel (one LSH mining, shared edge
        # lists) vs its four standalone constituents (each re-mines)
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.graph import (
            hits_fixed,
            k_core_fixed,
            label_propagation_fixed,
            pagerank_fixed,
        )

        host = "('h' || CAST({c} % 9973 AS STRING))"

        def _he():
            pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
            return pairs.select(
                F.expr(host.format(c="id_a")).alias("ha"),
                F.expr(host.format(c="id_b")).alias("hb"),
            ).filter(F.col("ha") != F.col("hb"))

        def _panel() -> int:
            he = _he().localCheckpoint(eager=True)
            ed = he.select(
                F.col("ha").alias("src"), F.col("hb").alias("dst")
            ).distinct()
            es = (
                he.select(F.col("ha").alias("src"), F.col("hb").alias("dst"))
                .unionByName(
                    he.select(F.col("hb").alias("src"), F.col("ha").alias("dst"))
                )
                .distinct()
            )
            pr = pagerank_fixed(es, iterations=3)
            ht = hits_fixed(ed, iterations=2)
            lp = label_propagation_fixed(es, iterations=2)
            kc = k_core_fixed(ed, k=2, rounds=8)
            return (
                pr.join(ht, "id").join(lp, "id").join(kc, "id", "left").count()
            )

        timed(f"host_graph_panel x{replicas} (one mining)", _panel)
        timed(
            f"  standalone pagerank x{replicas} (re-mines)",
            lambda: pagerank_fixed(
                _he().selectExpr("ha AS src", "hb AS dst")
                .unionByName(_he().selectExpr("hb AS src", "ha AS dst"))
                .distinct(),
                iterations=3,
            ).count(),
        )
        timed(
            f"  standalone hits x{replicas} (re-mines)",
            lambda: hits_fixed(
                _he().selectExpr("ha AS src", "hb AS dst").distinct(),
                iterations=2,
            ).count(),
        )
        timed(
            f"  standalone lpa x{replicas} (re-mines)",
            lambda: label_propagation_fixed(
                _he().selectExpr("ha AS src", "hb AS dst")
                .unionByName(_he().selectExpr("hb AS src", "ha AS dst"))
                .distinct(),
                iterations=2,
            ).count(),
        )
        timed(
            f"  standalone kcore x{replicas} (re-mines)",
            lambda: k_core_fixed(
                _he().selectExpr("ha AS src", "hb AS dst").distinct(),
                k=2,
                rounds=8,
            ).count(),
        )
    if "r12a" in only:
        from es_ch_sync_spark.operators.analytics import (
            krippendorff_alpha,
            pass_at_k,
        )
        from es_ch_sync_spark.operators.text import (
            gopher_quality_flags,
            lexical_concentration,
            split_cross_entropy,
            term_burstiness,
        )

        timed(
            f"lexical_concentration x{replicas}",
            lambda: lexical_concentration(docs).count(),
        )
        timed(
            f"term_burstiness x{replicas} (top-20)",
            lambda: term_burstiness(docs, top_terms=20).count(),
        )
        timed(
            f"split_cross_entropy x{replicas}",
            lambda: split_cross_entropy(docs).count(),
        )

        def _kripp() -> int:
            gf = gopher_quality_flags(docs)
            votes = None
            for col in ("ok_word_count", "ok_symbols", "ok_stopwords"):
                v = gf.select(
                    "doc_id",
                    F.when(F.col(col), F.lit("keep"))
                    .otherwise(F.lit("drop"))
                    .alias("cat"),
                )
                votes = v if votes is None else votes.unionByName(v)
            return krippendorff_alpha(votes, "doc_id", "cat", n_raters=3).count()

        timed(f"krippendorff_alpha x{replicas} (1.5M votes)", _kripp)
        timed(
            f"pass_at_k x{replicas} (k=1,3,5; 50k tasks)",
            lambda: pass_at_k(
                docs.selectExpr(
                    "doc_id div 10 AS task", "length(text) % 3 = 0 AS ok"
                ),
                "task",
                "ok",
                n=10,
                ks=(1, 3, 5),
            ).count(),
        )
    if "r12b" in only:
        from es_ch_sync_spark.operators import dedup as dd  # noqa: F811 —
        # later mode blocks re-import dd locally, which makes the name
        # function-local and unbound here unless imported again
        from es_ch_sync_spark.operators.graph import graph_global_stats
        from es_ch_sync_spark.operators.text import (
            dunning_llr_keywords,
            pii_pattern_census,
        )

        d20 = docs.select(
            F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")).alias(
                "source"
            ),
            "text",
            "doc_id",
        )
        timed(
            f"dunning_llr_keywords x{replicas} (20 sources, top-5)",
            lambda: dunning_llr_keywords(d20, k=5).count(),
        )
        timed(
            f"pii_pattern_census x{replicas} (20 sources, 4 patterns)",
            lambda: pii_pattern_census(d20).count(),
        )
        timed(
            f"edit_distance_pairs x{replicas} (d=25, LSH front end)",
            lambda: dd.edit_distance_pairs(docs, max_distance=25).count(),
        )
        host = "('h' || CAST({c} % 9973 AS STRING))"
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        he = (
            pairs.select(
                F.expr(host.format(c="id_a")).alias("src"),
                F.expr(host.format(c="id_b")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .localCheckpoint(eager=True)  # time the stats, not the mining
        )
        timed(
            f"graph_global_stats x{replicas} (host graph, mining checkpointed out)",
            lambda: graph_global_stats(he).count(),
        )
    if "r12c" in only:
        from es_ch_sync_spark.operators.analytics import retention_cohorts

        ev = docs.select(
            (F.col("doc_id") % 10_000).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ).alias("event_type"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") % 2_592_000
            ).alias("ts"),
        )
        timed(
            f"retention_cohorts x{replicas} (500k events, 30-day span)",
            lambda: retention_cohorts(ev).count(),
        )
    if "r12d" in only:
        from es_ch_sync_spark.operators import dedup as dd  # noqa: F811
        from es_ch_sync_spark.operators.analytics import (
            ab_panel,
            brown_forsythe,
            cochran_q,
            effect_sizes_ab,
            gumbel_block_maxima,
            jackknife_group_means,
            kruskal_wallis,
            nmi_vmeasure,
            paired_permutation_test,
            runs_test,
            theil_sen,
            wilcoxon_signed_rank,
        )
        from es_ch_sync_spark.operators.graph import degree_powerlaw
        from es_ch_sync_spark.operators.text import (
            gopher_quality_flags,
            normalize_text,
        )

        # synthetic events with a value column (the r12c shape + value):
        # ~10k users, 5 arms, 30-day span.  PRIME moduli only: replica
        # doc_ids are base + rep*1e6, so any modulus dividing 1e6 (and any
        # arm index correlated with the user modulus) collapses to one arm
        # per user and every paired test degenerates to 0 rows.
        ev = docs.select(
            (F.col("doc_id") % 9973).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                ((F.col("doc_id") / 9973).cast("long") % 5 + 1).cast("int"),
            ).alias("event_type"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") % 2_592_000
            ).alias("ts"),
            ((F.col("doc_id") % 997).cast("double") / 10.0).alias("value"),
        ).localCheckpoint(eager=True)
        timed(
            f"wilcoxon_signed_rank x{replicas} (10k paired users)",
            lambda: wilcoxon_signed_rank(
                ev, "user_id", "event_type", "value", "view", "purchase"
            ).count(),
        )
        timed(
            f"paired_permutation_test x{replicas} (10k users x 200 flips)",
            lambda: paired_permutation_test(
                ev, "user_id", "event_type", "value", "view", "purchase"
            ).count(),
        )
        timed(
            f"kruskal_wallis x{replicas} (5 arms)",
            lambda: kruskal_wallis(ev, "event_type", "value").count(),
        )
        timed(
            f"brown_forsythe x{replicas} (5 arms)",
            lambda: brown_forsythe(ev, "event_type", "value").count(),
        )
        timed(
            f"effect_sizes_ab x{replicas}",
            lambda: effect_sizes_ab(
                ev, "event_type", "value", "view", "purchase"
            ).count(),
        )
        timed(
            f"ab_panel x{replicas} (one census, four readouts)",
            lambda: ab_panel(
                ev, "event_type", "value", "view", "purchase"
            ).count(),
        )
        daily = ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("y")).localCheckpoint(eager=True)
        timed(
            f"theil_sen x{replicas} (5x30-day census)",
            lambda: theil_sen(daily, "event_type", "day", "y").count(),
        )
        timed(
            f"runs_test x{replicas} (5x30-day census)",
            lambda: runs_test(daily, "event_type", "day", "y").count(),
        )
        timed(
            f"gumbel_weekly_max x{replicas} (5x30-day census)",
            lambda: gumbel_block_maxima(daily, "event_type", "day", "y").count(),
        )
        timed(
            f"cochran_q x{replicas} (3 gopher subrules)",
            lambda: cochran_q(
                gopher_quality_flags(docs),
                "ok_word_count", "ok_symbols", "ok_stopwords",
            ).count(),
        )
        d20 = docs.select(
            F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")).alias(
                "source"
            ),
            F.length("text").alias("n_chars"),
        )
        timed(
            f"jackknife_source_means x{replicas} (20 sources)",
            lambda: jackknife_group_means(d20, "source", "n_chars").count(),
        )
        lang5 = docs.select(
            "doc_id",
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias(
                "label_a"
            ),
            F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")).alias(
                "label_b"
            ),
        )
        timed(
            f"nmi lang/source x{replicas} (5x20 contingency)",
            lambda: nmi_vmeasure(
                lang5.select("doc_id", "label_a"),
                lang5.select("doc_id", "label_b"),
                "doc_id",
            ).count(),
        )

        def _nmi_lsh() -> int:
            la = docs.select(
                "doc_id", F.md5(normalize_text(F.col("text"))).alias("label_a")
            )
            comp = dd.connected_components(
                dd.minhash_near_duplicates(docs, threshold=0.5)
            )
            lb = (
                docs.select("doc_id")
                .join(comp, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                    .cast("string")
                    .alias("label_b"),
                )
            )
            return nmi_vmeasure(la, lb, "doc_id").count()

        timed(f"nmi_exact_vs_lsh x{replicas} (minhash CC upstream)", _nmi_lsh)
        host = "('h' || CAST({c} % 9973 AS STRING))"
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        he12 = (
            pairs.select(
                F.expr(host.format(c="id_a")).alias("ha"),
                F.expr(host.format(c="id_b")).alias("hb"),
            )
            .filter(F.col("ha") != F.col("hb"))
            .localCheckpoint(eager=True)  # time the fit, not the mining
        )
        es12 = (
            he12.select(F.col("ha").alias("src"), F.col("hb").alias("dst"))
            .unionByName(
                he12.select(F.col("hb").alias("src"), F.col("ha").alias("dst"))
            )
            .distinct()
        )
        timed(
            f"host_degree_powerlaw x{replicas} (mining checkpointed out)",
            lambda: degree_powerlaw(es12).count(),
        )
    if "kn12" in only:
        from es_ch_sync_spark.operators.text import kneser_ney_bigram

        timed(
            f"kneser_ney_bigram x{replicas}",
            lambda: kneser_ney_bigram(docs).count(),
        )
    if "surv12" in only:
        from es_ch_sync_spark.operators.analytics import (
            logrank_test,
            nelson_aalen,
        )
        from es_ch_sync_spark.operators.sketches import ams_f2_sketch

        ev12 = docs.select(
            (F.col("doc_id") % 9973).alias("user_id"),
            ((F.col("doc_id") / 9973).cast("long") % 5).alias("arm_ix"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") % 2_592_000
            ).alias("ts"),
        ).localCheckpoint(eager=True)
        day = F.to_date("ts")
        pu = ev12.groupBy("user_id").agg(
            F.min(day).alias("f"),
            F.min(F.when(F.col("arm_ix") == 2, day)).alias("p"),
        )
        mx = ev12.agg(F.max(day).alias("m"))
        jj = pu.crossJoin(F.broadcast(mx))
        event = F.col("p").isNotNull().cast("int")
        dur = F.when(event == 1, F.datediff(F.col("p"), F.col("f"))).otherwise(
            F.datediff(F.col("m"), F.col("f"))
        )
        pun = jj.select(
            (F.col("user_id") % 2).alias("grp"),
            dur.alias("dur"),
            event.alias("converted"),
        ).localCheckpoint(eager=True)
        timed(
            f"nelson_aalen x{replicas} (10k units, 30-day horizon)",
            lambda: nelson_aalen(pun, "dur", "converted").count(),
        )
        timed(
            f"logrank_test x{replicas} (2 cohorts)",
            lambda: logrank_test(pun, "grp", "dur", "converted").count(),
        )
        timed(
            f"ams_f2_sketch x{replicas} (500k rows, 16 estimators)",
            lambda: ams_f2_sketch(ev12, "user_id").count(),
        )
    if "grid25" in only:
        from es_ch_sync_spark.operators.text import (
            bm25_posting_table,
            bm25_topk_from_postings,
        )

        # replica corpus suffixes every token with x{rep} — probe rep 7
        # (the qld11-mode convention)
        terms25 = ["sparkx7", "mergex7", "streamx7"]

        def _grid() -> int:
            posting, stats = bm25_posting_table(docs, terms25)
            out = None
            for k1, b in ((0.9, 0.4), (1.2, 0.2), (1.2, 0.75), (1.8, 0.75)):
                cell = bm25_topk_from_postings(
                    posting, stats, terms25, k=5, k1=k1, b=b
                )
                out = cell if out is None else out.unionByName(cell)
            return out.count()

        timed(f"bm25_param_grid x{replicas} (4 cells, one tokenize)", _grid)
    if "g12" in only:
        from es_ch_sync_spark.operators.analytics import (
            grouped_mutual_information,
            pairwise_mean_contrasts,
        )
        from es_ch_sync_spark.operators.text import gopher_quality_flags

        evg = docs.select(
            (F.col("doc_id") % 9973).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                ((F.col("doc_id") / 9973).cast("long") % 5 + 1).cast("int"),
            ).alias("event_type"),
            ((F.col("doc_id") % 997).cast("double") / 10.0).alias("value"),
        )
        timed(
            f"tukey_pairwise_arms x{replicas} (5 arms, 10 pairs)",
            lambda: pairwise_mean_contrasts(
                evg, "event_type", "value"
            ).count(),
        )

        def _ig() -> int:
            lab = docs.select(
                "doc_id", (F.col("doc_id") % 3 == 0).alias("y")
            )
            gf = gopher_quality_flags(docs.select("doc_id", "text")).join(
                lab, "doc_id"
            )
            v = None
            for col in ("ok_word_count", "ok_symbols", "ok_stopwords"):
                part = gf.select(
                    F.lit(col).alias("gate"),
                    F.col(col).alias("a"),
                    F.col("y").alias("b"),
                )
                v = part if v is None else v.unionByName(part)
            return grouped_mutual_information(v, "gate", "a", "b").count()

        timed(f"gate_information_gain x{replicas} (3 gates)", _ig)
    if "gridc" in only:
        from es_ch_sync_spark.operators.clustering import grid_density_clusters

        emb12 = spark.read.parquet(f"{CACHE}/r{replicas}_embeddings.parquet")
        pts = emb12.select(
            F.col("embedding").getItem(0).alias("x"),
            F.col("embedding").getItem(1).alias("y"),
        )
        timed(
            f"grid_density_clusters x{replicas}",
            lambda: grid_density_clusters(
                pts, "x", "y", eps=0.1, min_pts=10
            ).count(),
        )
    if "langreport" in only:
        from es_ch_sync_spark.operators.analytics import classification_report
        from es_ch_sync_spark.operators.text import lang_id

        d = docs.select(
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias(
                "lang"
            ),
            lang_id(F.col("text")).alias("pred"),
        )
        timed(
            f"classification_report x{replicas}",
            lambda: classification_report(d, "lang", "pred").count(),
        )
    if "hits" in only:
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.graph import hits_fixed

        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        pairs = pairs.localCheckpoint(eager=True)  # time HITS, not LSH
        host = "('h' || CAST({c} % 9973 AS STRING))"
        edges = (
            pairs.select(
                F.expr(host.format(c="id_a")).alias("src"),
                F.expr(host.format(c="id_b")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        timed(
            f"hits_fixed x{replicas} ({n_edges} directed host edges, 2 rounds)",
            lambda: hits_fixed(edges, iterations=2).count(),
        )
    if "rm3" in only:
        from es_ch_sync_spark.operators.text import rm3_expansion

        timed(
            f"rm3_expansion x{replicas} (10 feedback docs)",
            lambda: rm3_expansion(
                docs, ["sparkx7", "mergex7", "streamx7"], k_docs=10
            ).count(),
        )
    if "gopher" in only:
        from es_ch_sync_spark.operators.text import gopher_quality_flags

        timed(
            f"gopher_quality_flags x{replicas}",
            lambda: gopher_quality_flags(docs).count(),
        )
    if "ppl2" in only:
        from es_ch_sync_spark.operators.analytics import (
            expected_calibration_error,
            winsorized_stats_ranktrim as winsorized_stats,
        )
        from es_ch_sync_spark.operators.text import quality_lr_scores

        scored = quality_lr_scores(
            docs, label=F.col("doc_id") % 3 == 0, iters=3
        )
        timed(
            f"expected_calibration_error x{replicas} (LR-scored corpus)",
            lambda: expected_calibration_error(scored, "y", "p_quality").count(),
        )
        vals = docs.select(
            F.col("doc_id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("doc_id") % 7).cast("string")).alias(
                "event_type"
            ),
            (F.length("text") % 997).cast("double").alias("value"),
        )
        timed(
            f"winsorized_stats_ranktrim x{replicas} (7 keys over 500k values)",
            lambda: winsorized_stats(
                vals, "event_type", "value", "event_id"
            ).count(),
        )
    if "transitions" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import event_transition_matrix

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        big = ev.crossJoin(reps).select(
            (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
            F.col("ts"),
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            F.col("event_type"),
        )
        timed(
            f"event_transition_matrix x{replicas} (20M events)",
            lambda: event_transition_matrix(big).count(),
        )
    if "containment" in only:
        from es_ch_sync_spark.operators.dedup import containment_pairs_lsh

        timed(
            f"containment_pairs_lsh x{replicas}",
            lambda: containment_pairs_lsh(docs, threshold=0.5).count(),
        )
    if "lpa" in only:
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.graph import label_propagation_fixed

        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        pairs = pairs.localCheckpoint(eager=True)
        host = "('h' || CAST({c} % 9973 AS STRING))"
        he = pairs.select(
            F.expr(host.format(c="id_a")).alias("ha"),
            F.expr(host.format(c="id_b")).alias("hb"),
        ).filter(F.col("ha") != F.col("hb"))
        edges = (
            he.select(F.col("ha").alias("src"), F.col("hb").alias("dst"))
            .unionByName(
                he.select(F.col("hb").alias("src"), F.col("ha").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        timed(
            f"label_propagation_fixed x{replicas} ({n_edges} host edges, 2 rounds)",
            lambda: label_propagation_fixed(edges, iterations=2).count(),
        )
    if "mmr" in only:
        from es_ch_sync_spark.operators.similarity import mmr_rerank

        emb100 = spark.read.parquet(f"{CACHE}/r{replicas}_embeddings.parquet")
        qv = [float(x) for x in range(64)]
        qv = [x / sum(qv) for x in qv]
        timed(
            f"mmr_rerank x{replicas} (pool 15 over 200k vectors)",
            lambda: mmr_rerank(emb100, qv, k=5, pool=15).count(),
        )
    if "heapsc4" in only:
        from es_ch_sync_spark.operators.text import c4_line_filters, heaps_law_fit

        timed(
            f"heaps_law_fit x{replicas} (10 checkpoints)",
            lambda: heaps_law_fit(docs, checkpoints=10).count(),
        )
        timed(
            f"c4_line_filters x{replicas}",
            lambda: c4_line_filters(docs).count(),
        )
    if "batch2r10" in only:
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.analytics import chi2_independence
        from es_ch_sync_spark.operators.text import lang_id, tokenizer_compression

        d = docs.select(
            lang_id(F.col("text")).alias("lang"),
            F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")).alias(
                "source"
            ),
            "text",
            "doc_id",
        )
        timed(
            f"chi2_independence+cramers_v x{replicas} (lang x 20 sources)",
            lambda: chi2_independence(d, "lang", "source").count(),
        )
        timed(
            f"tokenizer_compression x{replicas} (20 sources)",
            lambda: tokenizer_compression(d, group_col="source").count(),
        )
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        pairs = pairs.localCheckpoint(eager=True)  # time sizes, not LSH
        comp = dd.connected_components(pairs)

        def _sizes() -> int:
            sizes = comp.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("cluster_size")
            )
            return sizes.groupBy("cluster_size").count().count()

        timed(f"dedup_cluster_sizes x{replicas} (post-LSH)", _sizes)
    if "minhashskew" in only:
        from es_ch_sync_spark.operators.dedup import lsh_buckets

        # the bucket-size histogram the embedding path already publishes
        # (VERDICT r10 #7): log2-bucketed occupancy of the (band, key)
        # buckets, plus the head bucket and the implied pair count
        sizes = (
            lsh_buckets(docs)
            .groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("m"))
            .localCheckpoint(eager=True)
        )
        hist = (
            sizes.groupBy(
                F.floor(F.log2(F.col("m").cast("double"))).alias("log2_m")
            )
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.max("m").alias("max_m"),
                F.sum(F.expr("m * (m - 1) / 2")).cast("long").alias("pairs"),
            )
            .orderBy("log2_m")
        )
        print(f"minhash LSH bucket-size histogram x{replicas}:", flush=True)
        for r in hist.collect():
            print(
                f"  2^{int(r['log2_m'])}-sized buckets: {r['n_buckets']} "
                f"(max {r['max_m']}, within-bucket pairs {r['pairs']})",
                flush=True,
            )
        tot = sizes.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("m").alias("head"),
            F.sum(F.expr("m * (m - 1) / 2")).cast("long").alias("pairs"),
            F.expr("percentile(m, 0.99)").alias("p99"),
        ).collect()[0]
        print(
            f"  total buckets {tot['n']}, head bucket {tot['head']}, "
            f"p99 {tot['p99']}, total candidate pairs {tot['pairs']}",
            flush=True,
        )


def _r9_sections(spark, docs, replicas, only):
    """Round-9 registrations: host PageRank, unigram-LM tokenizer,
    per-doc char entropy."""
    if "pagerank" in only:
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.graph import pagerank_fixed

        # ×100 near-dup pair set projected onto a synthetic host axis
        # (the queries_web host expression widened to the replica id so
        # the host graph grows with the corpus instead of saturating)
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        pairs = pairs.localCheckpoint(eager=True)  # time PageRank, not LSH
        host = "('h' || CAST({c} % 9973 AS STRING))"
        he = pairs.select(
            F.expr(host.format(c="id_a")).alias("ha"),
            F.expr(host.format(c="id_b")).alias("hb"),
        ).filter(F.col("ha") != F.col("hb"))
        edges = (
            he.select(F.col("ha").alias("src"), F.col("hb").alias("dst"))
            .unionByName(
                he.select(F.col("hb").alias("src"), F.col("ha").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        timed(
            f"pagerank_fixed x{replicas} ({n_edges} host edges, 3 rounds)",
            lambda: pagerank_fixed(edges, iterations=3).count(),
        )
    if "unigram" in only:
        from es_ch_sync_spark.operators.text import (
            bpe_word_counts,
            unigram_train,
            unigram_usage,
        )

        state: dict = {}
        wc = bpe_word_counts(docs).localCheckpoint(eager=False)

        def _train() -> int:
            state["rows"] = unigram_train(
                docs, vocab_size=120, em_rounds=2, wc=wc
            ).collect()
            return len(state["rows"])

        timed(f"unigram_train x{replicas} (2 EM rounds)", _train)
        rows = state["rows"]
        timed(
            f"unigram_token_freqs x{replicas} (encode distinct words)",
            lambda: unigram_usage(
                wc,
                [r["tok"] for r in rows],
                [int(r["logp_m"]) for r in rows],
            ).count(),
        )
    if "entropy" in only:
        from es_ch_sync_spark.operators.text import char_entropy

        timed(
            f"char_entropy x{replicas}",
            lambda: char_entropy(docs).count(),
        )
    if "jsd" in only:
        from es_ch_sync_spark.operators.text import source_jsd

        # synthetic source axis: 2000 sources over the ×N corpus
        d = docs.withColumn(
            "source", F.concat(F.lit("s"), (F.col("doc_id") % 2000).cast("string"))
        )
        timed(
            f"source_jsd x{replicas} (2000 sources)",
            lambda: source_jsd(d).count(),
        )
    if "kappa" in only:
        from es_ch_sync_spark.operators.analytics import cohen_kappa
        from es_ch_sync_spark.operators.text import lang_id

        d = docs.select(
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias(
                "lang"
            ),
            lang_id(F.col("text")).alias("pred"),
        )
        timed(
            f"cohen_kappa x{replicas} (declared vs lang_id over {replicas}00k docs)",
            lambda: cohen_kappa(d, "lang", "pred").count(),
        )
    if "dp" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.sampling import dp_noisy_counts

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        big = ev.crossJoin(reps).select(
            F.concat(F.col("event_type"), F.lit("#"), F.col("rep")).alias(
                "event_type"
            )
        )
        timed(
            f"dp_noisy_counts x{replicas} ({replicas * 5} released groups)",
            lambda: dp_noisy_counts(big, "event_type").count(),
        )
    if "rankeval" in only:
        from pyspark.sql import Window as _W

        from es_ch_sync_spark.operators.analytics import ranking_metrics
        from es_ch_sync_spark.operators.text import bm25_topk, words

        # ×N corpus suffixes every token with the replica id; query one
        # replica's vocabulary so tf/df stay realistic while the BM25
        # scans cover the whole corpus
        qsets = {0: ["sparkx7", "mergex7"], 1: ["tablex7", "scanx7"],
                 2: ["sortx7", "windowx7"]}
        runs = []
        for qid, terms in qsets.items():
            topk = bm25_topk(docs, terms, k=10)
            wq = _W.orderBy(F.desc("bm25"), F.asc("doc_id"))
            runs.append(topk.select(
                F.lit(qid).alias("query_id"), "doc_id",
                F.row_number().over(wq).alias("rank")))
        run = runs[0].unionByName(runs[1]).unionByName(runs[2])
        allt = sorted({t for ts in qsets.values() for t in ts})
        tf = (
            docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
            .filter(F.col("term").isin(allt))
            .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        )
        qt = spark.createDataFrame(
            [(q, t) for q, ts in qsets.items() for t in ts],
            "query_id int, term string",
        )
        qrels = (
            tf.filter(F.col("tf") >= 2).join(F.broadcast(qt), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("rel"))
        )
        timed(
            f"ranking_metrics x{replicas} (3 BM25 runs over the full corpus)",
            lambda: ranking_metrics(run, qrels, k=10).count(),
        )


def _r8c_sections(spark, docs, replicas, only):
    """Round-8 batch 9: the five r8 registrations without ×N evidence yet
    (wav features, bounded BFS, 7-day rolling WAU, HLL sketch, JSONL
    source round-trip)."""
    from es_ch_sync_spark.io.sources import read_parquet_table

    if "wavscale" in only:
        from es_ch_sync_spark.operators import multimodal as mm

        # mirror queries.py's per-replica clip census: doc_id % 1e6 < 2000
        # keeps 2000 clips per replica (the sparse replica-id contract),
        # so the decoded-sample volume grows linearly with N
        clips = docs.filter((F.col("doc_id") % 1_000_000) < 2000).select(
            "doc_id"
        )
        media = mm.synth_media(clips, "audio")
        timed(
            f"chunk_wav_features x{replicas} ({replicas * 2000} clips)",
            lambda: mm.chunk_wav_features(media, chunk_ms=100).count(),
        )
    if "bfs" in only:
        from es_ch_sync_spark.operators import dedup as dd
        from es_ch_sync_spark.operators.graph import bfs_depths

        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        pairs = pairs.localCheckpoint(eager=True)  # time BFS, not LSH
        n_edges = pairs.count()
        timed(
            f"bfs_depths x{replicas} ({n_edges} near-dup edges, 5 rounds)",
            lambda: bfs_depths(pairs, max_depth=5).count(),
        )
    if "sliding" in only or "hllscale" in only:
        ev = read_parquet_table(spark, SF, "events").filter(
            F.col("user_id").isNotNull()
        )
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        # user-id remap: same calendar days, N× distinct users — WAU
        # output stays O(days), distinct-count input grows linearly
        big = ev.crossJoin(reps).select(
            (F.col("user_id") + F.col("rep") * 1_000_000_000).alias("user_id"),
            "ts",
            "event_type",
        )
    if "sliding" in only:
        ud = big.select("user_id", F.to_date("ts").alias("day")).distinct()
        expanded = ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day_out"),
        )
        timed(
            f"sliding_distinct_wau x{replicas} (explode<=7, exact distinct)",
            lambda: expanded.groupBy(F.col("day_out").alias("day"))
            .agg(F.countDistinct("user_id").alias("wau"))
            .count(),
        )
    if "hllscale" in only:
        from es_ch_sync_spark.operators.sketches import hll_estimate, hll_sketch

        timed(
            f"hll_distinct x{replicas} (128 regs x event_type)",
            lambda: hll_estimate(
                hll_sketch(big, "user_id", ["event_type"]), ["event_type"]
            ).count(),
        )
    if "jsonl" in only:
        import shutil
        import tempfile

        from es_ch_sync_spark.io.sources import write_read_jsonl

        # source-format round-trip over ×N_w events (capped at 10 replicas
        # so the one-time WRITE doesn't dominate the timed READ)
        n_w = min(replicas, 10)
        ev = read_parquet_table(spark, SF, "events").select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        reps_w = spark.range(n_w).select(F.col("id").alias("rep"))
        big_ev = ev.crossJoin(reps_w).select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "user_id", "ts", "event_type", "value",
        )
        t = tempfile.mkdtemp(prefix="scale_jsonl_")
        back = write_read_jsonl(
            big_ev, t,
            "event_id bigint, user_id bigint, ts timestamp_ntz, "
            "event_type string, value double",
        )
        timed(
            f"jsonl_source_scan x{n_w} (PERMISSIVE read + filter)",
            lambda: back.filter(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull()
            ).count(),
        )
        shutil.rmtree(t, ignore_errors=True)



def _r7b_sections(spark, docs, replicas, only):
    from es_ch_sync_spark.io.sources import read_parquet_table

    if "nb" in only:
        from es_ch_sync_spark.operators.text import nb_classify, nb_train

        model, priors = nb_train(docs.withColumn(
            "lang", F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string"))
        ))
        timed(
            f"nb_classify x{replicas}",
            lambda: nb_classify(docs, model, priors).groupBy("pred_label").count().count(),
        )
    if "snm" in only:
        from es_ch_sync_spark.operators.dedup import sorted_neighborhood_pairs

        timed(
            f"sorted_neighborhood x{replicas} (w=4, thr=0.75)",
            lambda: sorted_neighborhood_pairs(docs, window=4, threshold=0.75).count(),
        )
    if "snm2" in only:
        from es_ch_sync_spark.operators.dedup import sorted_neighborhood_multipass

        timed(
            f"snm_multipass x{replicas} (2 passes, w=4, thr=0.75)",
            lambda: sorted_neighborhood_multipass(
                docs, window=4, threshold=0.75
            ).count(),
        )
    if "mktrend" in only:
        from es_ch_sync_spark.io.sources import read_parquet_table
        from es_ch_sync_spark.operators.analytics import mann_kendall_sen

        ev = read_parquet_table(spark, SF, "events")
        reps2 = spark.range(replicas).select(F.col("id").alias("rep"))
        # x{replicas} distinct user keys, each keeping its full daily series
        # — stresses the per-key pairwise stage across millions of series
        daily = (
            ev.crossJoin(reps2)
            .groupBy(
                (F.col("user_id") + F.col("rep") * 1_000_000).alias("uid"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("y"))
        )
        timed(
            f"mann_kendall_sen x{replicas} (per-user daily series)",
            lambda: mann_kendall_sen(daily, key_col="uid").count(),
        )
    if "burst" in only:
        from es_ch_sync_spark.operators.analytics import burst_detection

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        daily = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        timed(
            f"burst_detection x{replicas}",
            lambda: burst_detection(daily, key_col="u", day_col="day", count_col="c").count(),
        )
    if "cusum" in only:
        from es_ch_sync_spark.operators.analytics import cusum_changepoints

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        daily = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        timed(
            f"cusum_changepoints x{replicas}",
            lambda: cusum_changepoints(daily, key_col="u", day_col="day", value_col="c").count(),
        )
    if "phrase" in only:
        from es_ch_sync_spark.operators.text import build_postings, phrase_match

        post = build_postings(docs)
        # x100 corpus suffixes every token with the replica id, so the
        # phrase must carry a replica's suffix to exist; use rep 0's
        timed(
            f"phrase_match x{replicas} ('tablex0 hashx0')",
            lambda: phrase_match(post, ["tablex0", "hashx0"]).count(),
        )
    if "qnorm" in only:
        from es_ch_sync_spark.operators.sampling import quantile_normalize

        src = docs.withColumn(
            "source", F.concat(F.lit("s"), (F.col("doc_id") % 2000).cast("string"))
        ).withColumn("n_chars", F.length("text"))
        timed(
            f"quantile_normalize x{replicas} (2000 sources)",
            lambda: quantile_normalize(
                src, group_col="source", score_col="n_chars", id_col="doc_id"
            ).groupBy("norm_n_chars").count().count(),
        )

    if "acf" in only:
        from es_ch_sync_spark.operators.analytics import acf_daily
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        daily = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        timed(
            f"acf_daily x{replicas} (lags 1..7 per user series)",
            lambda: acf_daily(daily, "u", "day", "c", max_lag=7).count(),
        )
    if "kendall" in only:
        from es_ch_sync_spark.operators.analytics import kendall_tau_pairs
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        # keys = event_type#rep: 5*replicas series -> C(5N,2) pairwise
        # taus over 30-day series; documents the key-set is the knob
        daily = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("event_type"), F.lit("#"), F.col("rep")).alias(
                    "k"
                ),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        timed(
            f"kendall_tau_pairs x{replicas} (C(5N,2) series pairs)",
            lambda: kendall_tau_pairs(daily, "k", "day", "c").count(),
        )
    if "ks" in only:
        from es_ch_sync_spark.operators.analytics import ks_two_sample
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        # per-replica micro-jitter inflates the distinct-value table xN
        # (the operator's only scale-sensitive structure)
        pool = ev.crossJoin(reps).select(
            "event_type",
            (F.col("value") + F.col("rep") * 0.000001).alias("value"),
        )
        timed(
            f"ks_two_sample x{replicas} (distinct values xN)",
            lambda: ks_two_sample(
                pool.filter(F.col("value").isNotNull()),
                "event_type", "value", "view", "purchase",
            ).count(),
        )
    if "benford" in only:
        from es_ch_sync_spark.operators.analytics import benford_report
        from es_ch_sync_spark.io.sources import read_parquet_table

        orders = read_parquet_table(spark, SF, "orders")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        big = orders.crossJoin(reps).select(
            (F.col("o_totalprice") + F.col("rep")).alias("amt")
        )
        timed(
            f"benford_report x{replicas}",
            lambda: benford_report(big, "amt").count(),
        )
    if "readability" in only:
        from es_ch_sync_spark.operators.text import readability_by_source

        src_docs = docs.withColumn(
            "source",
            F.concat(F.lit("s"), (F.col("doc_id") % 2000).cast("string")),
        )
        timed(
            f"readability_by_source x{replicas} (2000 sources)",
            lambda: readability_by_source(src_docs).count(),
        )


    if "tclose" in only:
        from es_ch_sync_spark.operators.sampling import t_closeness_report
        from es_ch_sync_spark.io.sources import read_parquet_table

        cust = read_parquet_table(spark, SF, "customer")
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        big = cust.crossJoin(reps).select(
            "c_nationkey", "c_mktsegment",
            (F.col("c_acctbal") + F.col("rep")).alias("bal"),
        )
        timed(
            f"t_closeness x{replicas} (125 classes, binned)",
            lambda: t_closeness_report(
                big, ["c_nationkey", "c_mktsegment"], "bal", 100, 0.2
            ).count(),
        )


    if "cuped" in only:
        from es_ch_sync_spark.operators.analytics import ab_cuped
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events").filter(
            F.col("value").isNotNull() & F.col("user_id").isNotNull()
        )
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        vm = (F.col("value").cast("decimal(24,6)") * F.lit(1000000)).cast("long")
        day = F.to_date("ts")
        pu = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u")
            )
            .agg(
                F.sum(F.when(day < F.lit("2024-01-16"), vm).otherwise(0))
                .cast("long").alias("x"),
                F.sum(F.when(day >= F.lit("2024-01-16"), vm).otherwise(0))
                .cast("long").alias("y"),
            )
            .withColumn(
                "arm",
                F.when(
                    F.substring(F.md5(F.concat(F.lit("cuped:"), F.col("u"))), 32, 1)
                    .isin(*list("01234567")),
                    F.lit("treat"),
                ).otherwise(F.lit("control")),
            )
        )
        timed(
            f"ab_cuped x{replicas} (per-user moments)",
            lambda: ab_cuped(pu, "arm", "x", "y", "treat", "control").count(),
        )
    if "fdr" in only:
        from es_ch_sync_spark.operators.analytics import fdr_bh, mann_kendall_sen
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events").filter(
            F.col("user_id").isNotNull()
        )
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        daily = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u"),
                F.to_date("ts").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("y"))
        )
        mk = mann_kendall_sen(daily, "u", "day", "y")
        timed(
            f"fdr_bh x{replicas} (150k-series family)",
            lambda: fdr_bh(mk, "u", "z_score").filter("significant").count(),
        )


    if "auceval" in only:
        from es_ch_sync_spark.operators.analytics import (
            calibration_bins,
            roc_auc_brier,
        )
        from es_ch_sync_spark.operators.text import quality_lr_scores

        scored = quality_lr_scores(
            docs.withColumn("lang", F.when(F.col("doc_id") % 3 == 0, "en")),
            label=F.col("lang") == "en",
            iters=3,
        )
        timed(
            f"roc_auc_brier x{replicas} (LR-scored corpus)",
            lambda: roc_auc_brier(scored, "y", "p_quality").count(),
        )
        timed(
            f"calibration_bins x{replicas}",
            lambda: calibration_bins(scored, "y", "p_quality").count(),
        )


    if "km" in only:
        from es_ch_sync_spark.operators.analytics import (
            ab_proportions_ztest,
            kaplan_meier,
        )
        from es_ch_sync_spark.io.sources import read_parquet_table

        ev = read_parquet_table(spark, SF, "events").filter(
            F.col("user_id").isNotNull()
        )
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        day = F.to_date("ts")
        pu = (
            ev.crossJoin(reps)
            .groupBy(
                F.concat(F.col("user_id"), F.lit("#"), F.col("rep")).alias("u")
            )
            .agg(
                F.min(day).alias("f"),
                F.min(
                    F.when(F.col("event_type") == "purchase", day)
                ).alias("p"),
                F.max(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).alias("converted"),
            )
            .withColumn(
                "arm",
                F.when(
                    F.substring(F.md5(F.concat(F.lit("conv:"), F.col("u"))), 32, 1)
                    .isin(*list("01234567")),
                    F.lit("treat"),
                ).otherwise(F.lit("control")),
            )
        )
        dur = F.when(
            F.col("p").isNotNull(), F.datediff(F.col("p"), F.col("f"))
        ).otherwise(F.lit(29))
        per_unit = pu.select(
            dur.alias("dur"), F.col("converted").alias("e"), "arm", "converted"
        )
        timed(
            f"kaplan_meier x{replicas} (150k units)",
            lambda: kaplan_meier(per_unit, "dur", "e").count(),
        )
        timed(
            f"ab_proportions_ztest x{replicas}",
            lambda: ab_proportions_ztest(
                per_unit, "arm", "converted", "treat", "control"
            ).count(),
        )

    if "r13" in only:
        from es_ch_sync_spark.operators.analytics import (
            cramer_von_mises_ab,
            cuped_adjusted_ab,
            diff_in_diff,
            friedman_daily,
            grubbs_daily,
            hodges_lehmann_daily,
            ljung_box,
            mantel_haenszel,
            mix_jsd_daily,
            page_hinkley_daily,
            sprt_conversion_daily,
        )
        from es_ch_sync_spark.operators.text import gopher_quality_flags

        # the r12c synthetic-events shape (prime moduli — see NOTES)
        ev = docs.select(
            (F.col("doc_id") % 9973).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                ((F.col("doc_id") / 9973).cast("long") % 5 + 1).cast("int"),
            ).alias("event_type"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") % 2_592_000
            ).alias("ts"),
            ((F.col("doc_id") % 997).cast("double") / 10.0).alias("value"),
        ).localCheckpoint(eager=True)
        timed(
            f"cramer_von_mises_ab x{replicas} (value census)",
            lambda: cramer_von_mises_ab(
                ev, "event_type", "value", "view", "purchase"
            ).count(),
        )
        timed(
            f"diff_in_diff x{replicas} (4-cell census)",
            lambda: diff_in_diff(
                ev.select(
                    F.when(F.col("user_id") % 2 == 0, F.lit("A"))
                    .otherwise(F.lit("B")).alias("arm"),
                    (F.to_date("ts") >= F.lit("2023-11-29").cast("date"))
                    .alias("post"),
                    "value",
                ),
                "arm", "post", "value", "A", "B",
            ).count(),
        )
        timed(
            f"sprt_conversion_daily x{replicas} (day census)",
            lambda: sprt_conversion_daily(
                ev, "ts", F.col("event_type") == "purchase", p0=0.2, p1=0.25
            ).count(),
        )
        timed(
            f"event_mix_drift_daily x{replicas} (day x type grid)",
            lambda: mix_jsd_daily(ev, "ts", "event_type").count(),
        )
        vm = (F.col("value").cast("decimal(24,6)") * F.lit(1000000)).cast("long")
        units = (
            ev.select("user_id", F.col("event_type").alias("_et"), vm.alias("_v"))
            .groupBy("user_id")
            .agg(
                F.coalesce(F.sum(F.when(F.col("_et") == "view", F.col("_v"))), F.lit(0))
                .cast("long").alias("x"),
                F.coalesce(F.sum(F.when(F.col("_et") == "purchase", F.col("_v"))), F.lit(0))
                .cast("long").alias("y"),
            )
            .withColumn(
                "arm",
                F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
            )
        )
        timed(
            f"cuped_adjusted_ab x{replicas} (10k units)",
            lambda: cuped_adjusted_ab(
                units, "arm", "x", "y", "A", "B", quantize=False
            ).count(),
        )
        daily = ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("y")).localCheckpoint(eager=True)
        timed(
            f"friedman_daily x{replicas} (5x30 complete blocks)",
            lambda: friedman_daily(daily, "day", "event_type", "y").count(),
        )
        timed(
            f"grubbs_daily x{replicas} (5x30-day census)",
            lambda: grubbs_daily(daily, "event_type", "day", "y").count(),
        )
        timed(
            f"page_hinkley_daily x{replicas} (5x30-day census)",
            lambda: page_hinkley_daily(
                daily, "event_type", "day", "y", lam=50.0
            ).count(),
        )
        timed(
            f"ljung_box x{replicas} (acf census, 7 lags)",
            lambda: ljung_box(daily, "event_type", "day", "y", 7).count(),
        )
        timed(
            f"hodges_lehmann_daily x{replicas} (30x30 day pairs)",
            lambda: hodges_lehmann_daily(
                daily, "event_type", "day", "y", "view", "purchase"
            ).count(),
        )
        # MH on the replica corpus: stand-in stratum/label (the cached
        # projection carries only doc_id + text — the gateig precedent)
        gf = gopher_quality_flags(docs).select("doc_id", "ok_stopwords")
        jmh = docs.select(
            "doc_id",
            (F.col("doc_id") % 20).cast("string").alias("source"),
            (F.col("doc_id") % 3 == 0).alias("y"),
        ).join(gf, "doc_id")
        timed(
            f"mantel_haenszel x{replicas} (20 strata, 50M docs gate pass)",
            lambda: mantel_haenszel(jmh, "source", "ok_stopwords", "y").count(),
        )


    if "r13b" in only:
        from es_ch_sync_spark.operators.analytics import qini_uplift_deciles
        from es_ch_sync_spark.operators.features import (
            embedding_effective_rank,
            label_centroid_drift,
        )
        from es_ch_sync_spark.operators.sampling import (
            kcenter_coreset,
            temperature_mixture,
        )

        # embeddings: the x100 replica has no label column; derive a
        # deterministic 10-way stand-in group from vec_id
        emb = spark.read.parquet(f"{CACHE}/r{replicas}_embeddings.parquet")
        embl = emb.select(
            "vec_id", "embedding",
            (F.col("vec_id") % 10).cast("int").alias("label"),
        )
        timed(
            f"label_centroid_drift x{replicas} (200k vectors, 10 groups)",
            lambda: label_centroid_drift(embl, "label").count(),
        )
        timed(
            f"embedding_effective_rank x{replicas} (200k vectors)",
            lambda: embedding_effective_rank(emb).count(),
        )
        timed(
            f"kcenter_coreset x{replicas} (k=4 over 200k vectors)",
            lambda: kcenter_coreset(emb, k=4).count(),
        )
        timed(
            f"temperature_mixture x{replicas} (500k docs, stand-in source)",
            lambda: temperature_mixture(
                docs.select(
                    "text",
                    (F.col("doc_id") % 20).cast("string").alias("source"),
                ),
                alpha=0.7,
            ).count(),
        )
        ev13 = docs.select(
            (F.col("doc_id") % 9973).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                ((F.col("doc_id") / 9973).cast("long") % 5 + 1).cast("int"),
            ).alias("event_type"),
            ((F.col("doc_id") % 997).cast("double") / 10.0).alias("value"),
        )
        vm13 = (F.col("value").cast("decimal(24,6)") * F.lit(1000000)).cast("long")
        units13 = (
            ev13.select("user_id", F.col("event_type").alias("_et"), vm13.alias("_v"))
            .groupBy("user_id")
            .agg(
                F.coalesce(F.sum(F.when(F.col("_et") == "view", F.col("_v"))), F.lit(0))
                .cast("long").alias("score"),
                F.max(F.col("_et") == "purchase").alias("converted"),
            )
            .withColumn("treated", F.col("user_id") % 2 == 0)
        )
        timed(
            f"qini_uplift_deciles x{replicas} (10k units)",
            lambda: qini_uplift_deciles(
                units13, "score", "treated", "converted"
            ).count(),
        )
        from es_ch_sync_spark.operators.analytics import delong_auc_compare
        from es_ch_sync_spark.operators.text import gopher_quality_flags as _gqf

        # DeLong on the replica corpus: stand-in label (no lang column in
        # the cached projection — the gateig precedent); scorer A = doc
        # word count, scorer B = distinct stopword count (both exact ints)
        gfq = _gqf(docs).select("doc_id", "n_words", "n_stopwords")
        items13 = gfq.select(
            F.col("n_words").alias("sa"),
            F.col("n_stopwords").alias("sb"),
            (F.col("doc_id") % 3 == 0).alias("y"),
        )
        timed(
            f"auc_delong_compare x{replicas} (500k docs, 2 scorers)",
            lambda: delong_auc_compare(items13, "sa", "sb", "y").count(),
        )


    if "r14" in only:
        import time as _time

        from es_ch_sync_spark.io.ann_index import (
            build_ivfpq_index,
            search_ivfpq_index,
        )
        from es_ch_sync_spark.operators import multimodal as mm
        from es_ch_sync_spark.operators.dedup import duplicate_span_census
        from es_ch_sync_spark.operators.transform import normalize_pseudo_arrays

        # duplicate_span_census at ×N: replica token-suffixing destroys
        # cross-replica 50-gram matches, so intrinsic dup spans replicate
        # ×N — output (and census mass) grows linearly, not quadratically
        timed(
            f"duplicate_span_census x{replicas} (k=50)",
            lambda: duplicate_span_census(docs, k=50).count(),
        )

        # persisted IVF-PQ: build once on the replica embeddings (500k
        # vectors at ×100), then serve — searches report separately so the
        # ×100 row shows the amortization a real deployment gets
        emb14 = spark.read.parquet(f"{CACHE}/r{replicas}_embeddings.parquet")
        ivfpq_path = f"{CACHE}/r{replicas}_ivfpq"
        import os as _os

        if not _os.path.exists(f"{ivfpq_path}/codebook/_SUCCESS"):
            t0 = _time.time()
            build_ivfpq_index(emb14, ivfpq_path, n_cells=16, m=4, ksub=16,
                              iters=2, dim=64)
            print(f"ivfpq build x{replicas} (16 cells, m=4, ksub=16): "
                  f"{_time.time() - t0:.1f}s", flush=True)
        import pyarrow.parquet as _pq

        t = _pq.read_table(f"{CACHE}/r{replicas}_embeddings.parquet",
                           columns=["vec_id", "embedding"])
        qv = t.column("embedding").to_pylist()[
            t.column("vec_id").to_pylist().index(0)
        ]
        for np_ in (1, 4):
            timed(
                f"ivfpq search x{replicas} (nprobe={np_}/16, ADC over codes)",
                lambda np_=np_: search_ivfpq_index(
                    spark, ivfpq_path, qv, k=10, nprobe=np_, exclude_id=0
                ).count(),
            )

        # cell_[0..3] pseudo-array widen → compact → explode at 20M rows:
        # pure column expressions, one Generate, no shuffle
        def _cells() -> int:
            df = spark.range(20_000_000).select(
                F.col("id").alias("event_id"),
                (F.col("id") % 997).cast("double").alias("value"),
            )
            for i in range(4):
                df = df.withColumn(
                    f"cell_{i}",
                    F.when((F.col("event_id") + i) % (i + 2) == 0,
                           F.col("value") * (i + 1)),
                )
            arr = normalize_pseudo_arrays(df, "cell", 4)
            return arr.select(F.explode("cell")).count()

        timed(f"es_cell_array explode x{replicas} (20M synthetic events)",
              _cells)

        # real-JPEG fixtures at scale: encode+entropy-decode per doc in
        # Arrow batches (Python codec work, embarrassingly parallel — the
        # per-doc cost is the honest number; capped corpora, stated)
        jd = docs.select(F.col("doc_id")).limit(200_000).cache()
        jd.count()
        timed(
            f"multimodal_jpeg_stats x{replicas} (200k docs, encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(jd, "jpeg")
            ).count(),
        )
        vd = docs.select(F.col("doc_id")).limit(100_000).cache()
        vd.count()
        timed(
            f"multimodal_video_frames x{replicas} (100k clips, 2-5 frames, "
            "sample every 200ms)",
            lambda: mm.video_frame_stats(
                mm.synth_media(vd, "mjpeg"), every_ms=200
            ).count(),
        )
        timed(
            f"video_frame_dedup x{replicas} (100k clips, cross-clip census)",
            lambda: mm.video_frame_dedup(
                mm.synth_media(vd, "mjpeg"), every_ms=200
            ).count(),
        )
        jd.unpersist()
        vd.unpersist()

    if "r15" in only:
        from es_ch_sync_spark.operators import multimodal as mm

        # progressive-JPEG fixtures at scale: the 10-scan SOF2 script is
        # entropy-coded AND multi-scan decoded per doc in Arrow batches —
        # like the baseline row, the per-doc Python codec cost is the
        # honest number (embarrassingly parallel, blobs never shuffle)
        pj = docs.select(F.col("doc_id")).limit(200_000).cache()
        pj.count()
        timed(
            f"multimodal_jpeg_progressive x{replicas} (200k docs, "
            "10-scan encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(pj, "pjpeg")
            ).count(),
        )
        pj.unpersist()

        # animated-GIF cross-clip frame dedup at scale: 100k clips of
        # 2-5 full-canvas LZW frames each — decode cost per frame, then
        # the two-hash-aggregate census over (md5, id) rows
        gd = docs.select(F.col("doc_id")).limit(100_000).cache()
        gd.count()
        timed(
            f"gif_frame_dedup x{replicas} (100k animated clips, "
            "cross-clip census)",
            lambda: mm.gif_frame_dedup(mm.synth_media(gd, "agif")).count(),
        )
        gd.unpersist()

        # lossless WebP (VP8L) at scale: per-doc prefix-code encode +
        # decode with the transform mix the fixture rotates through
        wp = docs.select(F.col("doc_id")).limit(200_000).cache()
        wp.count()
        timed(
            f"multimodal_webp_stats x{replicas} (200k docs, VP8L "
            "encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(wp, "webp")
            ).count(),
        )
        wp.unpersist()

        # PNG variant matrix at scale: palette build + Adam7 pass
        # splitting on encode, inflate + unfilter + palette/interlace
        # reassembly on decode, per doc
        px15 = docs.select(F.col("doc_id")).limit(200_000).cache()
        px15.count()
        timed(
            f"multimodal_png_variants x{replicas} (200k docs, "
            "4-variant encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(px15, "pngx")
            ).count(),
        )
        px15.unpersist()

    if "r16" in only:
        from es_ch_sync_spark.operators import multimodal as mm

        # compositing GIF at scale: the 4-variant rotation (full-canvas /
        # partial blits / transparency+disposal-2 / disposal-3) walks the
        # canvas state machine per clip, then the two-hash-aggregate
        # census — only (md5, id) rows cross the shuffles
        gd = docs.select(F.col("doc_id")).limit(100_000).cache()
        gd.count()
        timed(
            f"gif_frame_dedup x{replicas} (100k composited clips, "
            "cross-clip census)",
            lambda: mm.gif_frame_dedup(mm.synth_media(gd, "agif")).count(),
        )
        gd.unpersist()

        # VP8L at scale after the r16 additions: the 7-variant rotation
        # now includes palette, LZ77+near-distance, color cache +
        # cross-color, and meta prefix groups; decode is LUT-driven
        wp = docs.select(F.col("doc_id")).limit(200_000).cache()
        wp.count()
        timed(
            f"multimodal_webp_stats x{replicas} (200k docs, 7-variant "
            "VP8L encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(wp, "webp")
            ).count(),
        )
        wp.unpersist()

        # 4-component Adobe CMYK/YCCK at scale: four coefficient planes
        # per doc through the multi-scan path + the inverted-ink
        # composite — 33% more entropy decode than the 3-component row
        ck = docs.select(F.col("doc_id")).limit(200_000).cache()
        ck.count()
        timed(
            f"multimodal_jpeg_cmyk x{replicas} (200k docs, 4-plane "
            "encode+decode)",
            lambda: mm.extract_pixel_features(
                mm.synth_media(ck, "cmyk")
            ).count(),
        )
        ck.unpersist()

        # FLAC at scale: rice encode + decode of 400-1920 samples per
        # doc (fixed/LPC predictor recurrence is the per-sample cost),
        # stats-only rows cross the shuffle
        fl = docs.select(F.col("doc_id")).limit(200_000).cache()
        fl.count()
        timed(
            f"multimodal_flac_stats x{replicas} (200k docs, FLAC "
            "encode+decode)",
            lambda: mm.extract_audio_stats(
                mm.synth_media(fl, "flac")
            ).count(),
        )
        fl.unpersist()


if __name__ == "__main__":
    main()
