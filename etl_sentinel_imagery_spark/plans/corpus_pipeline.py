"""End-to-end training-corpus curation plan.

The composition a data-curation team actually runs, as one declarative
pipeline over the engine's operators:

    ingest (JSONL/parquet) → [source-mix keep fractions] → quality
    filter (token counts + repetition signals) → [language gate] →
    [LM perplexity gate] → [supervised quality-model gate] → PII scrub
    → exact+near dedup (keep canonicals) → [SemDeDup semantic gate] →
    benchmark decontamination → train/val/test split → chunk
    (whitespace or real-BPE budget) → sequence packing
    (operators.packing) → partitioned parquet + corpus statistics

Every stage is a DataFrame transformation; the only actions are the
per-stage row counts in the returned report (each a cheap count job —
drop ``collect_stats`` for a single-action pipeline at full scale).
Stage thresholds default to Gopher-style web-curation values.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.functions.text import (
    chunk_documents,
    max_run_length,
    scrub_pii,
    tokens,
    word_ngrams,
)
from etl_sentinel_imagery_spark.operators.dedup import dedup_clusters
from etl_sentinel_imagery_spark.operators.decontaminate import (
    contaminated_train_ids,
)
from etl_sentinel_imagery_spark.operators.sampling import assign_split


@dataclass
class CurationConfig:
    min_tokens: int = 5
    max_dup_3gram_ratio: float = 0.5
    max_top_token_ratio: float = 0.5
    dedup_threshold: float = 0.5
    contamination_ngram: int = 8
    split_weights: dict = field(
        default_factory=lambda: {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    split_seed: str = "curate"
    chunk_tokens: int = 64
    chunk_overlap: int = 8
    pack_seq_len: int = 256
    zorder_chunks: bool = True
    chunk_files: int = 8
    #: Keep only docs classified (operators.langid trigram profiles)
    #: into these languages; None disables the language gate.
    keep_langs: list | None = None
    #: Train a BPE tokenizer on the post-dedup corpus and attach real
    #: token counts (n_bpe_real) to the documents table; 0 disables.
    bpe_merges: int = 0
    #: CCNet-style LM perplexity gate (operators.lm_score): drop docs
    #: whose mean token NLL exceeds this; None disables. The bigram LM
    #: trains on the reference corpus passed to curate_corpus(lm_ref=…),
    #: or on the quality-passed corpus itself (typicality ranking) when
    #: no reference is given.
    lm_max_nll: float | None = None
    #: SemDeDup semantic-duplicate gate (operators.semdedup): drop docs
    #: whose embedding has a kept lower-id near-twin at this cosine;
    #: None disables. Requires curate_corpus(embeddings=…) keyed by
    #: doc_id; docs WITHOUT an embedding row pass through (anti-join on
    #: the dropped set — the gate can only remove what it can see).
    semantic_threshold: float | None = None
    semantic_n_clusters: int = 16
    #: Supervised quality gate (operators.classifier): drop docs whose
    #: hashed-n-gram logreg score falls below this; None disables.
    #: Requires curate_corpus(quality_weights=...) — a weight vector
    #: from train_logreg — and quality_dim matching its feature space.
    quality_min_score: float | None = None
    quality_dim: int = 1 << 16
    #: Per-source keep fractions (operators.sampling.stratified_sample
    #: over the ``source`` column): the corpus-mixing stage web-scale
    #: recipes start with ("keep 100% of wiki, 15% of crawl"); None
    #: disables. Sources absent from the dict keep mix_default.
    source_mix: dict | None = None
    mix_default: float = 1.0
    #: TEMPERATURE mixing instead of explicit fractions: keep
    #: fractions derive from per-source counts as (n_min/n_i)^(1-α)
    #: (operators.sampling.temperature_weights — the mT5/XLM-R
    #: p_i ∝ n_i^α recipe, downsample-only). Mutually exclusive with
    #: source_mix; the computed fractions land in the report.
    mix_temperature: float | None = None
    #: Chunk the train split by REAL BPE token budget
    #: (operators.bpe.chunk_documents_bpe) instead of whitespace-token
    #: windows; requires bpe_merges > 0 (the tokenizer trained above).
    #: Chunk/packing token counts then measure actual context-window
    #: occupancy.
    chunk_by_bpe: bool = False
    #: Corpus-wide duplicated-line removal (operators.line_dedup — the
    #: CCNet boilerplate pass) BEFORE quality filtering, so repeated
    #: navigation/banner lines don't distort the quality signals; the
    #: value is the min corpus-wide occurrence count that makes a line
    #: boilerplate. None disables.
    line_dedup_min_count: int | None = None
    line_min_chars: int = 20
    line_keep_first: bool = False
    #: Hard corpus-size cap applied AFTER dedup/decontamination (the
    #: budget stage: "train on at most N documents"): exactly max_docs
    #: survive via deterministic hash-rank sampling
    #: (operators.sampling.sample_exact_n — nested/reproducible), or
    #: Efraimidis-Spirakis WEIGHTED sampling when max_docs_weight_col
    #: names a positive numeric column (quality-weighted budgets).
    #: None disables.
    max_docs: int | None = None
    max_docs_weight_col: str | None = None
    #: TOKEN-budget cap (round 11, the unit training actually budgets
    #: in): keep the hash-order prefix of docs whose whitespace-token
    #: total first reaches this budget
    #: (operators.sampling.sample_token_budget — nested/reproducible
    #: like max_docs; the two compose, max_docs first). None disables.
    max_tokens: int | None = None
    #: Sketch-based corpus monitoring (operators.sketches): for each
    #: named column build a MERGEABLE monitor row (HLL registers +
    #: top-k heavy hitters + Count-Min grid) at ingest and at final.
    #: Rows append to ``out_dir/monitor`` so successive runs merge into
    #: longitudinal rollups (hll_merge_agg / cm_merge_agg at read
    #: time); the report carries the sketch-sized summaries. None
    #: disables.
    monitor_cols: list | None = None
    monitor_topk: int = 8
    monitor_cm_w: int = 256


def _monitor_sketches(
    df: DataFrame, stage_name: str, cfg: CurationConfig
) -> DataFrame:
    """One mergeable sketch row per monitored column: (stage, col, hll,
    items, off, cm). Each family is its rollup-table shape — element-
    wise max / truncated-sum / element-wise add merges — so rows from
    successive pipeline runs fold into any time slice without touching
    raw data. Cost: three combinable aggregations per column, each with
    sketch-sized (not corpus-sized) shuffle output."""
    from etl_sentinel_imagery_spark.operators.sketches import (
        cm_sketch,
        hll_sketch,
    )

    k = cfg.monitor_topk
    out = None
    for c in cfg.monitor_cols:
        keyed = df.select(F.col(c).cast("string").alias("val"))
        # global top-k: combinable count + orderBy().limit() — Spark
        # plans TakeOrderedAndProject, so this stays distributed at ANY
        # column cardinality (topk_sketch's grouped window would funnel
        # every distinct value through one task in the global case)
        def _by_count_desc(l, r):
            return (
                F.when(l["_cnt"] > r["_cnt"], -1)
                .when(l["_cnt"] < r["_cnt"], 1)
                .when(l["val"] < r["val"], -1)
                .when(l["val"] > r["val"], 1)
                .otherwise(0)
            )

        ranked = F.array_sort(
            F.collect_list(F.struct("_cnt", "val")), _by_count_desc
        )
        top = (
            keyed.groupBy("val")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .orderBy(F.desc("_cnt"), F.asc("val"))
            .limit(k + 1)
            .agg(
                F.map_from_entries(
                    F.transform(
                        F.slice(ranked, 1, k),
                        lambda s: F.struct(s["val"], s["_cnt"]),
                    )
                ).alias("items"),
                F.coalesce(
                    F.try_element_at(ranked, F.lit(k + 1))["_cnt"],
                    F.lit(0).cast("long"),
                ).alias("off"),
            )
        )
        row = (
            hll_sketch(keyed, [], "val")
            .crossJoin(top)
            .crossJoin(cm_sketch(keyed, [], "val", w=cfg.monitor_cm_w))
            .select(
                F.lit(stage_name).alias("stage"),
                F.lit(c).alias("col"),
                "hll",
                "items",
                "off",
                "cm",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _quality_filter(docs: DataFrame, cfg: CurationConfig) -> DataFrame:
    toks = tokens(F.col("text"))
    n = F.size(toks)
    dup3 = F.when(
        n >= 3,
        F.lit(1.0) - F.size(word_ngrams(F.col("text"), 3)).cast("double") / (n - 2),
    ).otherwise(F.lit(0.0))
    # sorted run-length fold, not the O(n × n_distinct) transform+filter
    # (the same linearization text_profile got — functions.text)
    top = max_run_length(toks).cast("double") / n
    return docs.filter(
        (n >= cfg.min_tokens)
        & (dup3 <= cfg.max_dup_3gram_ratio)
        & (top <= cfg.max_top_token_ratio)
    )


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    eval_df: DataFrame | None = None,
    cfg: CurationConfig | None = None,
    collect_stats: bool = True,
    lm_ref: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    quality_weights=None,
) -> dict:
    """Run the full curation pipeline; write ``documents/`` (partitioned
    by split) and ``chunks/`` under ``out_dir``; return the stage-count
    report. ``docs`` must be (doc_id, lang, text)-shaped."""
    cfg = cfg or CurationConfig()
    report: dict = {}

    def stage(name: str, df: DataFrame) -> DataFrame:
        if collect_stats:
            report[name] = df.count()
        return df

    stage("ingested", docs)
    ingested = docs
    if cfg.source_mix is not None and cfg.mix_temperature is not None:
        raise ValueError(
            "pass source_mix (explicit fractions) OR mix_temperature "
            "(derived fractions), not both"
        )
    mix_fracs = cfg.source_mix
    if cfg.mix_temperature is not None:
        if "source" not in docs.columns:
            raise ValueError(
                "mix_temperature set but docs has no 'source' column"
            )
        from etl_sentinel_imagery_spark.operators.sampling import (
            source_counts_strict,
            temperature_weights,
        )

        counts = source_counts_strict(docs, "source")
        mix_fracs = temperature_weights(counts, cfg.mix_temperature)
        if collect_stats:
            report["mix_fractions"] = {
                s: round(f, 6) for s, f in mix_fracs.items()
            }
    if mix_fracs is not None:
        if "source" not in docs.columns:
            raise ValueError(
                "source_mix set but docs has no 'source' column"
            )
        from etl_sentinel_imagery_spark.operators.sampling import (
            stratified_sample,
        )

        docs = stage(
            "after_source_mix",
            stratified_sample(
                docs,
                "doc_id",
                "source",
                mix_fracs,
                default_fraction=cfg.mix_default,
                # DERIVED seed: sampling with the raw split_seed would
                # keep exactly the low-bucket docs that assign_split
                # later thresholds on — every survivor would land in
                # 'train' and val/test would be empty (round-11 review)
                seed=f"{cfg.split_seed}:mix",
            ),
        )
        if collect_stats:
            report["mix_by_source"] = {
                r["source"]: r["count"]
                for r in docs.groupBy("source").count().collect()
            }
    if cfg.line_dedup_min_count is not None:
        from etl_sentinel_imagery_spark.operators.line_dedup import (
            remove_duplicated_lines,
        )

        docs = stage(
            "after_line_dedup",
            remove_duplicated_lines(
                docs,
                min_count=cfg.line_dedup_min_count,
                min_chars=cfg.line_min_chars,
                keep_first=cfg.line_keep_first,
            ).drop("n_dup_lines_removed"),
        )
    quality = stage("after_quality", _quality_filter(docs, cfg))
    if cfg.keep_langs is not None:
        # trigram language gate (operators.langid): keep docs whose
        # PREDICTED language is allowed — docs too short to produce
        # trigram evidence drop out with the rest (semi join)
        from etl_sentinel_imagery_spark.operators.langid import classify

        allowed = classify(quality).filter(
            F.col("lang_pred").isin(list(cfg.keep_langs))
        )
        quality = stage(
            "after_langid",
            quality.join(
                allowed.select("doc_id"), "doc_id", "left_semi"
            ),
        )
    if cfg.lm_max_nll is not None:
        from etl_sentinel_imagery_spark.operators.lm_score import (
            perplexity_filter,
            train_bigram_lm,
        )

        lm = train_bigram_lm(lm_ref if lm_ref is not None else quality)
        quality = stage(
            "after_lm_filter",
            perplexity_filter(quality, lm, cfg.lm_max_nll),
        )
    if cfg.quality_min_score is not None:
        if quality_weights is None:
            raise ValueError(
                "quality_min_score set but no quality_weights given"
            )
        from etl_sentinel_imagery_spark.operators.classifier import (
            hash_features,
            score_logreg,
        )

        keep_ids = (
            score_logreg(
                hash_features(quality, dim=cfg.quality_dim, text_col="text"),
                quality_weights,
            )
            .filter(F.col("quality_score") >= cfg.quality_min_score)
            .select("doc_id")
        )
        quality = stage(
            "after_quality_model",
            quality.join(keep_ids, "doc_id", "left_semi"),
        )
    scrubbed = quality.withColumn("text", scrub_pii(F.col("text")))

    clusters = dedup_clusters(
        scrubbed, "doc_id", "text", threshold=cfg.dedup_threshold
    )
    canon = stage(
        "after_dedup",
        scrubbed.join(
            clusters.filter(F.col("is_canonical")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        ),
    )

    if cfg.semantic_threshold is not None:
        if embeddings is None:
            raise ValueError(
                "semantic_threshold set but no embeddings DataFrame given"
            )
        from etl_sentinel_imagery_spark.operators.semdedup import (
            semantic_dedup,
        )

        dropped = (
            semantic_dedup(
                embeddings.join(
                    canon.select("doc_id"),
                    embeddings["vec_id"] == canon["doc_id"],
                    "left_semi",
                ),
                threshold=cfg.semantic_threshold,
                n_clusters=cfg.semantic_n_clusters,
            )
            .filter(~F.col("keep"))
            .select(F.col("id").alias("doc_id"))
        )
        canon = stage(
            "after_semantic_dedup",
            canon.join(dropped, "doc_id", "left_anti"),
        )

    if eval_df is not None:
        bad = contaminated_train_ids(
            canon, eval_df, n=cfg.contamination_ngram
        )
        canon = stage(
            "after_decontamination",
            canon.join(F.broadcast(bad), "doc_id", "left_anti"),
        )

    if cfg.max_docs is not None:
        from etl_sentinel_imagery_spark.operators.sampling import (
            sample_exact_n,
            weighted_sample_exact_n,
        )

        # derived seed — see the mix stage: the cap must not select by
        # the same hash the split thresholds on
        if cfg.max_docs_weight_col is not None:
            capped = weighted_sample_exact_n(
                canon,
                cfg.max_docs,
                cfg.max_docs_weight_col,
                key_col="doc_id",
                seed=f"{cfg.split_seed}:cap",
            )
        else:
            capped = sample_exact_n(
                canon, cfg.max_docs, key_col="doc_id",
                seed=f"{cfg.split_seed}:cap",
            )
        canon = stage("after_cap", capped)

    if cfg.max_tokens is not None:
        from etl_sentinel_imagery_spark.functions.text import tokens
        from etl_sentinel_imagery_spark.operators.sampling import (
            sample_token_budget,
        )

        canon = stage(
            "after_token_budget",
            sample_token_budget(
                canon.withColumn(
                    "_n_tok", F.size(tokens(F.col("text"))).cast("long")
                ),
                cfg.max_tokens,
                "_n_tok",
                key_col="doc_id",
                seed=f"{cfg.split_seed}:token_budget",
            ).drop("_n_tok", "cum_before"),
        )

    final = canon.withColumn(
        "split", assign_split("doc_id", cfg.split_weights, seed=cfg.split_seed)
    )
    merges = None
    if cfg.bpe_merges > 0:
        # train the BPE tokenizer on the CURATED corpus (operators.bpe:
        # word counting at corpus scale, merges on the vocab table) and
        # attach real token counts — the budget numbers packing and
        # curriculum sampling consume
        from etl_sentinel_imagery_spark.operators.bpe import (
            bpe_encode,
            train_bpe_distributed,
        )

        merges = train_bpe_distributed(canon, cfg.bpe_merges)
        counts = bpe_encode(canon, merges).select(
            "doc_id", F.col("n_bpe_tokens").alias("n_bpe_real")
        )
        final = final.join(counts, "doc_id")
    if cfg.monitor_cols:
        from etl_sentinel_imagery_spark.operators.sketches import (
            hll_estimate,
        )

        monitor = _monitor_sketches(ingested, "ingested", cfg).unionByName(
            _monitor_sketches(final, "final", cfg)
        )
        # append-mode: successive runs pile up mergeable rows; readers
        # merge any stage/time slice with hll_merge_agg / cm_merge_agg
        monitor.write.mode("append").parquet(f"{out_dir}/monitor")
        if collect_stats:
            summary = (
                monitor.select(
                    "stage",
                    "col",
                    hll_estimate("hll").alias("distinct_est"),
                    "items",
                    "off",
                )
                .collect()
            )
            report["monitor"] = {
                (r["stage"], r["col"]): {
                    "distinct_est": r["distinct_est"],
                    "top": dict(r["items"]),
                    "off": r["off"],
                }
                for r in summary
            }
    final.write.mode("overwrite").partitionBy("split").parquet(
        f"{out_dir}/documents"
    )

    if cfg.chunk_by_bpe:
        if merges is None:
            raise ValueError("chunk_by_bpe requires bpe_merges > 0")
        from etl_sentinel_imagery_spark.operators.bpe import (
            chunk_documents_bpe,
        )

        # word-aligned chunks by TRUE tokenizer budget — n_chunk_tokens
        # downstream (z-order, packing) then measures real context-
        # window occupancy, not whitespace-token approximations
        chunks = chunk_documents_bpe(
            final.filter(F.col("split") == "train"),
            merges,
            chunk_tokens=cfg.chunk_tokens,
        ).withColumnRenamed("n_bpe_tokens", "n_chunk_tokens")
    else:
        chunks = chunk_documents(
            final.filter(F.col("split") == "train"),
            "doc_id",
            "text",
            chunk_tokens=cfg.chunk_tokens,
            overlap=cfg.chunk_overlap,
        )
    if cfg.zorder_chunks:
        # ingest-path Z-order (operators.layout): cluster the chunk files
        # along (doc_id, n_chunk_tokens) so both "all chunks of doc X"
        # and "chunks of ~N tokens" (length-bucketed sampling) prune at
        # the parquet-footer level. Cuts persist beside the table so a
        # steady ingest keeps every write on ONE curve.
        from etl_sentinel_imagery_spark.operators.layout import (
            compute_zorder_cuts,
            save_zorder_cuts,
            zorder_layout,
        )

        zcols = ["doc_id", "n_chunk_tokens"]
        cuts = compute_zorder_cuts(chunks, zcols)
        save_zorder_cuts(spark, f"{out_dir}/chunk_zorder_cuts.json", cuts)
        chunks_out = zorder_layout(
            chunks, zcols, cfg.chunk_files, cuts=cuts
        ).drop("zval")
    else:
        chunks_out = chunks
    chunks_out.write.mode("overwrite").parquet(f"{out_dir}/chunks")

    # sequence packing: lay the train chunks end-to-end (doc, chunk_idx)
    # order and emit the per-(chunk × sequence) copy plan a sequence
    # writer executes. The uid packs chunk_idx into the low 20 bits so
    # ONE bigint carries the (doc, chunk) order — with_global_offset
    # needs a single unique order key.
    from etl_sentinel_imagery_spark.operators.packing import (
        pack_sequence_slices,
    )

    written_chunks = spark.read.parquet(f"{out_dir}/chunks")
    packed = pack_sequence_slices(
        written_chunks.withColumn(
            "chunk_uid",
            # fail LOUDLY on bit overflow: a colliding uid would break
            # the unique-order precondition of with_global_offset and
            # silently overlap training sequences
            F.when(
                (F.col("chunk_idx") >= 0)
                & (F.col("chunk_idx") < F.lit(1 << 20))
                & (F.col("doc_id") >= 0)
                & (F.col("doc_id") < F.lit(1 << 43)),
                F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("chunk_uid overflow: doc_id="),
                        F.col("doc_id").cast("string"),
                        F.lit(" chunk_idx="),
                        F.col("chunk_idx").cast("string"),
                    )
                )
            ),
        ),
        "chunk_uid",
        "n_chunk_tokens",
        seq_len=cfg.pack_seq_len,
    )
    packed.write.mode("overwrite").parquet(f"{out_dir}/sequences")
    if collect_stats:
        report["train_chunks"] = spark.read.parquet(f"{out_dir}/chunks").count()
        seqs = spark.read.parquet(f"{out_dir}/sequences")
        report["train_sequences"] = seqs.agg(
            (F.max("seq_idx") + 1).alias("n")
        ).collect()[0]["n"]
        report["splits"] = {
            r["split"]: r["count"]
            for r in spark.read.parquet(f"{out_dir}/documents")
            .groupBy("split")
            .count()
            .collect()
        }
    return report
