"""The training-data chain in pipeline.py order, one materialized stage
at a time: normalize -> exact dedup -> paragraph dedup -> substring
dedup -> MinHash near-dup -> SemDeDup -> exact decontamination ->
fuzzy decontamination -> quality signals -> quality filter -> LM filter
-> stratified sample -> BPE pack -> shards + verify_shards."""

from __future__ import annotations

import os
import time

STAGES = [
    "normalize",
    "exact_dedup",
    "paragraph_dedup",
    "substring_dedup",
    "minhash_neardup",
    "semdedup",
    "decontam_exact",
    "decontam_fuzzy",
    "quality_signals",
    "quality_filter",
    "lm_filter",
    "stratified_sample",
    "bpe_pack",
    "shards_verify",
]


def _stage_fns(spark, bench, work):
    from pyspark.sql import functions as F

    from alma_memory_spark import pipeline as P
    from alma_memory_spark.embedding import DEFAULT_DIM, hash_embed
    from alma_memory_spark.functions.text import ngrams_of_tokens, ws_tokens
    from alma_memory_spark.operators.dedup_index import NearDupIndex
    from alma_memory_spark.operators.semdedup import auto_cent_every

    cols = ("doc_id", "text", "lang", "source")

    def normalize(d):
        # collapse runs of spaces but keep the paragraph breaks the next
        # stage splits on
        return d.select(
            "doc_id",
            F.trim(F.regexp_replace("text", r"[ \t]+", " ")).alias("text"),
            "lang", "source",
        ).filter(F.col("text") != "")

    def paragraph_dedup(d):
        kept = P.dedup_paragraphs(d).select("doc_id", "text_dedup")
        return (
            d.join(kept, "doc_id")
            .select("doc_id", F.col("text_dedup").alias("text"), "lang", "source")
            .filter(F.col("text") != "")
        )

    def substring_dedup(d):
        kept = P.dedup_token_windows(d, w=50, fp_hash="xxhash64").select(
            "doc_id", "text_dedup"
        )
        return (
            d.join(kept, "doc_id")
            .select("doc_id", F.col("text_dedup").alias("text"), "lang", "source")
            .filter(F.col("text") != "")
        )

    def minhash_neardup(d):
        root = os.path.join(work, "ndidx")
        NearDupIndex.build(
            spark, d, root, id_col="doc_id", text_col="text",
            n_buckets=16, band_cap=500,
        )
        drop = NearDupIndex.load(spark, root).drop_list()
        return d.join(drop, "doc_id", "left_anti")

    @F.pandas_udf("array<float>")
    def embed(texts):
        return texts.map(lambda t: hash_embed(t or "", DEFAULT_DIM))

    def semdedup(d):
        emb = d.select("doc_id", embed("text").alias("embedding")).localCheckpoint(
            eager=True
        )
        groups = P.semantic_dedup_families(
            emb, id_col="doc_id", threshold=0.97,
            cent_every=auto_cent_every(d.count()),
        )
        return d.join(
            groups.filter(~F.col("is_canonical")).select("doc_id"),
            "doc_id", "left_anti",
        )

    def quality_signals(d):
        g = d.select(*cols, ws_tokens("text").alias("_ts")).select(
            *cols, ngrams_of_tokens(F.col("_ts"), 2).alias("_g")
        )
        counted = g.select(
            *cols,
            F.size("_g").cast("long").alias("_t"),
            F.size(F.array_distinct("_g")).cast("long").alias("_d"),
        )
        return counted.select(
            *cols,
            P.quality_score("text").alias("q_score"),
            F.when(
                F.col("_t") > 0,
                F.lit(1.0) - F.col("_d").cast("double") / F.col("_t").cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup2_frac"),
        )

    def lm_filter(d):
        scores = P.lm_quality_scores(d).localCheckpoint()
        return d.join(P.lm_tail_ids(scores), "doc_id", "left_anti")

    return {
        "normalize": normalize,
        "exact_dedup": P.drop_exact_duplicates,
        "paragraph_dedup": paragraph_dedup,
        "substring_dedup": substring_dedup,
        "minhash_neardup": minhash_neardup,
        "semdedup": semdedup,
        "decontam_exact": lambda d: P.decontaminate(d, bench, n=13),
        "decontam_fuzzy": lambda d: P.decontaminate_fuzzy(d, bench, verify_t=0.9),
        "quality_signals": quality_signals,
        "quality_filter": lambda d: d.filter(
            (F.col("q_score") > 0.0) & (F.col("dup2_frac") < 0.9)
        ).drop("q_score", "dup2_frac"),
        "lm_filter": lm_filter,
        "stratified_sample": lambda d: P.stratified_sample(
            d, "lang", {"en": 0.9}, key_col="doc_id", default_rate=0.7
        ),
        "bpe_pack": lambda d: P.pack_documents_nostraddle(
            P.with_bpe_token_count(d), budget=2048, token_col="n_bpe",
            key_col="doc_id", n_shards=8,
        ),
    }


def parquet_rows(path: str) -> int:
    """Rows in a written parquet directory (partition subdirectories
    included), from the file footers: no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, dirs, names in os.walk(path)
        if not os.path.basename(d).startswith("_")
        for n in names
        if n.endswith(".parquet")
    )


def run_chain(spark, src: str, bench, work: str, on_stage) -> list[dict]:
    """Run every stage; returns one record per stage (name, s, rows_out,
    path). `on_stage(name)` is a context-manager factory entered around
    each stage (job groups, spans)."""
    from alma_memory_spark import pipeline as P

    os.makedirs(work, exist_ok=True)
    fns = _stage_fns(spark, bench, work)
    out: list[dict] = []
    cur = src
    for i, name in enumerate(STAGES):
        path = os.path.join(work, f"s{i:02d}_{name}")
        with on_stage(name):
            t0 = time.perf_counter()
            if name == "shards_verify":
                P.write_training_shards(spark.read.parquet(cur), path, token_col="n_bpe")
                P.verify_shards(spark, path, token_col="n_bpe")
            else:
                fns[name](spark.read.parquet(cur)).write.mode("overwrite").parquet(path)
            dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        out.append({"stage": name, "s": dt, "rows_out": parquet_rows(path), "path": path})
        cur = path
    return out
