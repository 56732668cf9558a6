"""Corpus-preparation queries over `documents` (north-star training-data
pipeline, SURVEY T3.4 extensions): chunking, repetition quality signals,
PII scrubbing, stratified sampling.

These are the operators a pretraining-data pipeline runs between raw
crawl and tokenizer — the same tier as dedup/similarity (plans/dedup.py,
plans/similarity.py), extending the reference's clean-zone transform
(load_warehouse.py:63-91 — its notion of "clean" is typed columns; a
training corpus's notion of clean adds chunk/quality/PII/mix steps).

All exact-integer or md5-valued so the DuckDB oracles are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as X
from ..sources import load_table
from .catalog import query
from .dedup import _MINHASH_CTES as _DEDUP_MINHASH_CTES

_RATES_SQL = ", ".join(f"('{s}', {r})" for s, r in X.STRATA_RATES)
_STOP_SQL = ", ".join(f"'{w}'" for w in X.STOPWORDS)


@query(
    "corpus_chunking",
    tier="T3",
    doc="Fixed-size overlapping character chunks (size 120, stride 90) "
    "per document — the LLM context-window prep step. Row-local "
    "sequence+explode flat-map, zero shuffles; chunk identity gated "
    "by md5.",
    oracle="""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text), 1) + 1, 90)) AS start
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) // 90 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_pos,
           CAST(length(substring(text, CAST(start AS INT), 120)) AS BIGINT)
             AS chunk_len,
           md5(substring(text, CAST(start AS INT), 120)) AS chunk_md5
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
)
def corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.chunk_documents(d, size=120, stride=90).orderBy("doc_id", "chunk_idx")


@query(
    "corpus_repetition_signals",
    tier="T3",
    doc="Gopher-style repetition signals (duplicate-token fraction, "
    "top-bigram fraction) as exact ppm integers — the boilerplate/"
    "template filter of a training pipeline. One tagged explode "
    "(tokens + bigrams share the shuffle), two map-side-combinable "
    "hash aggs, no joins.",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS e FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1])) AS e
      FROM documents
    ),
    ta AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct_tokens,
             CAST(max(c) AS BIGINT) AS max_token_freq
      FROM (SELECT doc_id, e, count(*) AS c FROM tok GROUP BY 1, 2)
      GROUP BY 1
    ),
    ba AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
             CAST(max(c) AS BIGINT) AS max_bigram_freq
      FROM (SELECT doc_id, e, count(*) AS c FROM big GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT ta.doc_id, ta.n_tokens, ta.n_distinct_tokens, ta.max_token_freq,
           coalesce(ba.n_bigrams, 0) AS n_bigrams,
           coalesce(ba.n_distinct_bigrams, 0) AS n_distinct_bigrams,
           coalesce(ba.max_bigram_freq, 0) AS max_bigram_freq,
           (ta.n_tokens - ta.n_distinct_tokens) * 1000000
             // greatest(ta.n_tokens, 1) AS dup_token_ratio_e6,
           coalesce(ba.max_bigram_freq, 0) * 1000000
             // greatest(coalesce(ba.n_bigrams, 0), 1) AS top_bigram_ratio_e6
    FROM ta LEFT JOIN ba USING (doc_id)
    ORDER BY doc_id
    """,
)
def corpus_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return X.repetition_signals(d).orderBy("doc_id")


@query(
    "corpus_pii_redact",
    tier="T3",
    doc="Regex PII scrub: count + redact email-ish tokens and digit "
    "runs (emails first — they contain digits), gate the redacted "
    "text by md5. Row-local JVM regexp, zero shuffles; patterns are "
    "RE2/java.util.regex-portable.",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{X.PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{X.PII_DIGITS_RE}')) AS BIGINT)
             AS n_digit_runs,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(text, '{X.PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{X.PII_DIGITS_RE}', '<NUM>', 'g') AS redacted
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.pii_redact(d).orderBy("doc_id")


@query(
    "corpus_stratified_sample",
    tier="T3",
    doc="Deterministic stratified sample: keep a doc iff md5(doc_id) "
    "mod 1000 < per-language rate from a broadcast rates dimension — "
    "the corpus-mixing step (down-sample over-represented languages). "
    "Reproducible across engines/re-runs unlike RNG sampling; at "
    "100 TB the bucket filter runs in the scan and the rate lookup is "
    "a broadcast join.",
    oracle=f"""
    WITH rates(stratum, keep_per_mille) AS (VALUES {_RATES_SQL})
    SELECT d.doc_id, d.lang AS stratum,
           CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bucket
    FROM documents d JOIN rates r ON d.lang = r.stratum
    WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000 < r.keep_per_mille
    ORDER BY d.doc_id
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.stratified_sample(d).orderBy("doc_id")


@query(
    "corpus_decontaminate",
    tier="T3",
    doc="Eval-set decontamination: flag training docs sharing any "
    "8-token n-gram with the benchmark subset (doc_id % 50 == 0 "
    "stands in for the eval set). Benchmark grams BROADCAST (eval "
    "sets are small by nature); train side is one explode+distinct, "
    "a broadcast hash join, and a map-side-combinable per-doc count "
    "— no all-pairs work, no shuffle of full text. At 100 TB the "
    "broadcast swaps for a Bloom filter of gram hashes with the same "
    "plumbing — BUILT AND MEASURED (round 8, operators/text.py "
    "decontaminate(bloom_prefilter=True)): a 2^18-bit/3-hash word "
    "table (~35 KB broadcast) bit-tests each training gram in the "
    "scan and cuts the exact-join candidate mass 93.5% at sf1 "
    "(2.31M -> 151k gram rows; wall 10.4 -> 8.9 s). The crossover "
    "sits between sf0.1 and sf1 (the build+collect costs ~0.5 s, so "
    "sf0.1 wall is 2.3 -> 2.8 s) — this catalog entry keeps the "
    "plain broadcast join, the scale path flips the flag; output is "
    "bit-identical either way (the Bloom is one-sided and survivors "
    "re-verify in the exact join). See SCALE.md round-8 A/B.",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS gram
      FROM tok, unnest(range(1, len(t) - 6)) AS u(i)
      WHERE doc_id % 50 = 0
    ),
    dg AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
      FROM tok, unnest(range(1, len(t) - 6)) AS u(i)
      WHERE doc_id % 50 <> 0
    ),
    hits AS (
      SELECT doc_id, count(*) AS n
      FROM dg JOIN bg USING (gram) GROUP BY doc_id
    )
    SELECT tok.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams,
           coalesce(h.n, 0) > 0 AS contaminated
    FROM tok LEFT JOIN hits h ON tok.doc_id = h.doc_id
    WHERE tok.doc_id % 50 <> 0
    ORDER BY tok.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents", spread=True)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return X.decontaminate(train, bench).orderBy("doc_id")


@query(
    "corpus_pack_sequences",
    tier="T3",
    doc="Concat-and-chunk sequence packing: concatenate docs in "
    "(shard, doc_id) order, split the token stream into 256-token "
    "training sequences, report docs/tokens per sequence. The cumsum "
    "window is PARTITIONED BY SHARD (doc_id % 4) so packing is "
    "embarrassingly parallel — a global ordering would serialize the "
    "window into one partition at 100 TB; per-shard packing is how "
    "real pipelines shard their output files. Invariant the gate "
    "checks: every sequence holds exactly 256 tokens except each "
    "shard's tail.",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 4 AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
      FROM d
    ),
    s AS (
      SELECT shard, doc_id, end_tok - n_tokens AS start_tok, end_tok,
             unnest(range((end_tok - n_tokens) // 256,
                          (end_tok - 1) // 256 + 1)) AS seq_id
      FROM c
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(seq_id AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(least(end_tok, (seq_id + 1) * 256)
                    - greatest(start_tok, seq_id * 256)) AS BIGINT)
             AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM s
    GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.pack_sequences(d).orderBy("shard", "seq_id")


@query(
    "corpus_contiguous_ids",
    tier="T3",
    doc="Dense 0..N-1 doc IDs in doc_id order WITHOUT the global-"
    "window scale trap (row_number over a global ORDER BY collapses "
    "to one partition): deterministic order-preserving bucketing, a "
    "per-bucket count pass whose prefix sums broadcast back as "
    "offsets, then a bucket-local window. Driver state is #buckets "
    "integers; every sort is partition-local. The renumbering step "
    "of corpus compaction after filtering/dedup.",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
             AS new_id,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def corpus_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        X.assign_contiguous_ids(d.select("doc_id", "n_chars"))
        .select("doc_id", "new_id", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "corpus_domain_cap",
    tier="T3",
    doc="Per-domain document cap: keep the 10 best (longest, doc_id "
    "tiebreak) docs per source — corpus balancing so hot domains "
    "can't dominate. rank<=k compiles to WindowGroupLimit: map tasks "
    "pre-truncate to local top-k before the shuffle (plan-pinned).",
    oracle=f"""
    SELECT doc_id, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(rn AS BIGINT) AS rank_in_domain
    FROM (
      SELECT doc_id, source, text, row_number() OVER (
               PARTITION BY source ORDER BY length(text) DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {X.DOMAIN_CAP_K}
    ORDER BY source, rank_in_domain
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.domain_cap(d).orderBy("source", "rank_in_domain")


@query(
    "corpus_length_buckets",
    tier="T3",
    doc="Power-of-two token-length bucket histogram + padding-waste "
    "ratio a bucketed batcher would pay — the batch-shape report "
    "before sequence packing. One scan, agg keyed on ~7 buckets, "
    "map-side combined; integer bit tricks (no float log2) keep the "
    "oracle bit-exact.",
    oracle="""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT n_tokens,
             CAST(length(bin(n_tokens)) AS BIGINT) AS bits,
             (CAST(1 AS BIGINT) << length(bin(n_tokens))) - 1 AS capacity
      FROM d
    )
    SELECT bits, capacity,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(sum(capacity - n_tokens) AS BIGINT) AS sum_pad,
           CAST(sum(capacity - n_tokens) * 1000000
                // greatest(sum(capacity), 1) AS BIGINT) AS pad_ratio_e6
    FROM b
    GROUP BY bits, capacity
    ORDER BY bits
    """,
)
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.length_buckets(d).orderBy("bits")


@query(
    "corpus_quality_funnel",
    tier="T3",
    doc="C4/Gopher-style staged cleaning report: survivor counts after "
    "each cumulative filter stage (min length, token range, alpha "
    "ratio, stopword ratio) in ONE scan — conditional sums with "
    "map-side combine, vs 4x the I/O for four filter jobs.",
    oracle=f"""
    WITH x AS (
      SELECT CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT)
               AS n_alpha,
             CAST(len([t for t in string_split(text, ' ')
                       if list_contains([{_STOP_SQL}], t)]) AS BIGINT) AS n_stop
      FROM documents
    ),
    p AS (
      SELECT n_chars >= {X.FUNNEL_MIN_CHARS} AS p1,
             n_tokens BETWEEN {X.FUNNEL_MIN_TOKENS} AND {X.FUNNEL_MAX_TOKENS}
               AS p2,
             (n_alpha * 1000000) // greatest(n_chars, 1)
               >= {X.FUNNEL_MIN_ALPHA_E6} AS p3,
             (n_stop * 1000000) // greatest(n_tokens, 1)
               >= {X.FUNNEL_MIN_STOP_E6} AS p4
      FROM x
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT)
             AS after_min_len,
           CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT)
             AS after_token_range,
           CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT)
             AS after_alpha_ratio,
           CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END)
                AS BIGINT) AS after_stopword_ratio
    FROM p
    """,
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.quality_funnel(d)


@query(
    "corpus_duplicated_spans",
    tier="T3",
    doc="Cross-document duplicated token 8-gram spans (boilerplate/"
    "template mining — headers, footers, license blurbs). Per-doc "
    "dedup is row-local (array_distinct before the explode) so the "
    "shuffle carries one row per (doc, span); one map-side-combined "
    "count, min_docs prunes the unique tail. Complements "
    "corpus_repetition_signals (within-doc) and corpus_decontaminate "
    "(vs eval set).",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dg AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+{X.SPAN_NGRAM - 1}], ' ')
               AS span
      FROM tok, unnest(range(1, len(t) - {X.SPAN_NGRAM - 2})) AS u(i)
      WHERE len(t) >= {X.SPAN_NGRAM}
    )
    SELECT span,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM dg
    GROUP BY span
    HAVING count(*) >= {X.SPAN_MIN_DOCS}
    ORDER BY n_docs DESC, span
    """,
)
def corpus_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return X.duplicated_spans(d).orderBy(F.desc("n_docs"), "span")


_TARGETS_SQL = ", ".join(f"('{s}', {p})" for s, p in X.MIXTURE_TARGETS_PPM)


@query(
    "corpus_mixture_weights",
    tier="T3",
    doc="Per-language sampling weights reshaping the observed corpus "
    "mix toward a target distribution (capped at 3x upsample) — the "
    "step that PRODUCES the rates corpus_stratified_sample consumes. "
    "One map-side-combined count per stratum is the only corpus pass; "
    "weights are integer floor arithmetic on the #strata-row "
    "aggregate with the targets broadcast.",
    oracle=f"""
    WITH tgt AS (
      SELECT s AS stratum, CAST(p AS BIGINT) AS target_ppm
      FROM (VALUES {_TARGETS_SQL}) v(s, p)
    ),
    counts AS (
      SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    c AS (
      SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS n_total FROM counts
    )
    SELECT c.stratum, c.n_docs, c.n_total,
           c.n_docs * 1000000 // c.n_total AS actual_ppm,
           CAST(coalesce(t.target_ppm, 0) AS BIGINT) AS target_ppm,
           CAST(least(coalesce(t.target_ppm, 0) * 1000000
                  // greatest(c.n_docs * 1000000 // c.n_total, 1),
                {X.MIXTURE_MAX_WEIGHT_E6}) AS BIGINT) AS weight_e6,
           CAST(c.n_docs * least(coalesce(t.target_ppm, 0) * 1000000
                  // greatest(c.n_docs * 1000000 // c.n_total, 1),
                {X.MIXTURE_MAX_WEIGHT_E6}) // 1000000 AS BIGINT)
             AS expected_docs
    FROM c LEFT JOIN tgt t ON c.stratum = t.stratum
    ORDER BY c.stratum
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.mixture_weights(d).orderBy("stratum")


# --------------------------------------------------------------------------
# T3 — deterministic fixed-k reservoir per group
# --------------------------------------------------------------------------
@query(
    "corpus_reservoir_per_source",
    tier="T3",
    doc="Deterministic k=3 'reservoir' per source: rank docs by "
    "md5('rsv:'||doc_id) inside each source and keep the first 3 — "
    "fixed-count-per-group sampling (vs the rate-based stratified "
    "sample), reproducible across engines/cluster sizes, no RNG. "
    "Plans as WindowGroupLimit: each map task keeps ≤3 rows per "
    "group before the shuffle, so the sample never materializes the "
    "group.",
    oracle="""
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 3
    ORDER BY source, doc_id
    """,
)
def corpus_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))).alias("_h"),
    )
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------------------
# T3 — weighted sampling without replacement (Efraimidis–Spirakis top-k)
# --------------------------------------------------------------------------
@query(
    "corpus_weighted_sample",
    tier="T3",
    doc="Weighted sample WITHOUT replacement, k=5 per source, weight = "
    "n_chars (longer docs proportionally likelier): the Efraimidis–"
    "Spirakis one-pass scheme — every doc gets key −ln(u)/w with u a "
    "deterministic md5-derived uniform in (0,1), and the k smallest "
    "keys per group ARE a weighted sample without replacement. No "
    "RNG state, no sequential pass: keys are row-local, the top-k is "
    "a WindowGroupLimit (each map task keeps ≤5 rows per group "
    "before the shuffle), so the sample scales like a filter. u = "
    "(h+0.5)/2^32 off the md5 int is exact in binary64 on both "
    "engines; ln() differing by an ulp across libms could only flip "
    "a near-tie (~1e-15 relative), vanishing for continuous keys.",
    oracle="""
    WITH k AS (
      SELECT source, doc_id, n_chars,
             -ln((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT) + 0.5) / 4294967296.0)
               / n_chars AS es_key
      FROM documents
    )
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY es_key, doc_id) AS rn
      FROM k
    ) WHERE rn <= 5
    ORDER BY source, doc_id
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        (
            -F.log(
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit("ws:"), F.col("doc_id").cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    + 0.5
                )
                / 4294967296.0
            )
            / F.col("n_chars")
        ).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy("es_key", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------------------
# T3 — n-gram novelty scoring (redundancy curve across an ordered corpus)
# --------------------------------------------------------------------------
@query(
    "corpus_ngram_novelty",
    tier="T3",
    doc="Per-document NOVELTY: the fraction of a doc's distinct token "
    "3-grams not seen in any earlier doc (doc_id order = ingest "
    "order) — the redundancy signal curriculum builders and crawl "
    "schedulers use (novelty collapsing → the source is mined out). "
    "Shape: distinct (doc, gram) postings, gram → min(doc_id) "
    "first-seen (map-side combined), one equi-join back on gram, "
    "per-doc counts. Gram-keyed agg + join is inverted-index cost; "
    "at 100 TB gram strings become the 62-bit rolling hashes of "
    "operators/text.py (identical plumbing, no string shuffle).",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
      FROM tok, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS novelty
    FROM g JOIN first_seen f ON f.gram = g.gram
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    # Token array materialized in its own projection FIRST — inlining
    # split() into the transform lambda re-splits the text once per
    # gram element (the O(tokens²) trap operators/text.py
    # _with_gram_hashes documents).
    g = (
        d.select("doc_id", F.split("text", " ").alias("_t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(_t) >= 3 THEN "
                    "transform(sequence(0, size(_t) - 3), "
                    "i -> array_join(slice(_t, i + 1, 3), ' ')) "
                    "ELSE array() END"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = g.join(first_seen, "gram")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 4).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# T3 — cross-source duplication matrix (provenance analytics)
# --------------------------------------------------------------------------
@query(
    "corpus_cross_source_dups",
    tier="T3",
    doc="WHO copies from WHOM: near-dup candidate pairs rolled up to "
    "the (source_a, source_b) matrix with ordered source labels — the "
    "provenance view that tells a crawl operator which feeds "
    "syndicate each other (high off-diagonal mass = mirrored feeds; "
    "diagonal = internal duplication). Rides the existing LSH "
    "candidate set joined twice against the broadcast doc→source "
    "map; O(candidates) on top of the standard signature pass.",
    oracle=f"""
    WITH {_DEDUP_MINHASH_CTES},
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(pa.source, pb.source) AS source_x,
           greatest(pa.source, pb.source) AS source_y,
           count(*) AS n_pairs,
           CAST(sum(c.n_shared_bands) AS BIGINT) AS sum_shared_bands
    FROM cand c
    JOIN src pa ON pa.doc_id = c.doc_a
    JOIN src pb ON pb.doc_id = c.doc_b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def corpus_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from .dedup import _MINHASH_K, _MINHASH_N, _MINHASH_RPB, _spread

    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(d, n=_MINHASH_N, num_hashes=_MINHASH_K)
    cand = D.bucket_pairs(D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB))
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    # No broadcast pin on the doc_id->source map: it is DOC-cardinality,
    # so a hard hint would OOM the driver at 100 TB. AQE broadcasts it
    # at bench scale from stats; at scale this becomes a shuffle join
    # on the candidate set (O(candidates), still never all-pairs).
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("n_shared_bands").cast("long").alias("sum_shared_bands"),
        )
        .orderBy("source_x", "source_y")
    )


# --------------------------------------------------------------------------
# T3 — vocabulary growth curve (Heaps-law saturation audit)
# --------------------------------------------------------------------------
@query(
    "corpus_vocab_growth",
    tier="T3",
    doc="Vocabulary-growth curve over character 5-grams: corpus "
    "ordered by doc_id splits into 10 equal-width id tranches; each "
    "distinct gram counts once at its FIRST-seen tranche, and the "
    "running cumsum gives |vocab| after each — the Heaps-law "
    "saturation audit that tells a crawl operator when new data "
    "stops buying new vocabulary (token vocab saturates instantly on "
    "this templated corpus; grams keep growing, which is exactly the "
    "curve worth watching). One gram-keyed min-agg + a 10-row "
    "cumsum — the same inverted-index pass novelty runs.",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(
               [substring(text, i, 5)
                for i in range(1, greatest(length(text) - 4, 1) + 1)]
             )) AS t
      FROM documents
    ),
    nd AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    first_seen AS (
      SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t
    ),
    b AS (
      SELECT least(first_doc * 10 // n_docs, 9) AS bucket,
             CAST(count(*) AS BIGINT) AS new_terms
      FROM first_seen, nd GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           new_terms,
           CAST(sum(new_terms) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM b ORDER BY bucket
    """,
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents", spread=True)
    n_docs = d.agg(F.max("doc_id") + 1).collect()[0][0]
    first_seen = (
        d.select("doc_id", F.explode(shingle_array("text", 5)).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    b = first_seen.groupBy(
        F.least(
            (F.col("first_doc") * 10 / n_docs).cast("long"), F.lit(9).cast("long")
        ).alias("bucket")
    ).agg(F.count("*").cast("long").alias("new_terms"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return b.select(
        "bucket",
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
    ).orderBy("bucket")


# --------------------------------------------------------------------------
# Token-budget selection (greedy fill under a corpus-wide budget)
# --------------------------------------------------------------------------
@query(
    "corpus_budget_select",
    tier="T3",
    doc="Token-budget selection: order docs by (tokens desc, doc_id) "
    "and keep the prefix whose running token total fits a 60% corpus "
    "budget — the 'fill the training budget with the longest docs "
    "first' selection policy. The running total is the two-phase "
    "distributed prefix sum (operators/prefix.py — no global window "
    "over the doc table); the budget check is exact integer cross-"
    "multiplication (10·cum ≤ 6·total), no float ratios. One extra "
    "control-plane scalar (the corpus token total).",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens)
                  OVER (ORDER BY n_tokens DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS running_tokens
      FROM t
    )
    SELECT c.doc_id, c.n_tokens, c.running_tokens
    FROM c, tot
    WHERE 10 * c.running_tokens <= 6 * tot.total
    ORDER BY c.doc_id
    """,
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    d = load_table(spark, sf_dir, "documents", spread=True)
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).persist()  # feeds the total AND the ranged scan — scan docs once
    # Control-plane scalar: the corpus token total (one map-side agg).
    total = t.agg(F.sum("n_tokens")).collect()[0][0]
    c = distributed_cumsum(
        t.withColumn("neg_tokens", -F.col("n_tokens")),
        order_cols=["neg_tokens", "doc_id"],
        value_col="n_tokens",
        out_col="running_tokens",
    )
    return (
        c.filter(10 * F.col("running_tokens") <= 6 * F.lit(total))
        .select("doc_id", "n_tokens", "running_tokens")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Epoch upsampling (repetition factors toward a balanced language mix)
# --------------------------------------------------------------------------
@query(
    "corpus_upsample_epochs",
    tier="T3",
    doc="Epoch upsampling: each language's documents repeat "
    "ceil(max_lang_chars / lang_chars) times (capped at 4 epochs) so "
    "rare languages close the gap to the largest — the repetition-"
    "factor half of data mixing (multiple epochs over small "
    "high-value sources is standard pretraining practice; the cap is "
    "the 'don't repeat past ~4 epochs' rule of thumb). The factor "
    "comes from a #langs-row aggregate joined back (bounded "
    "cardinality); the repeat itself is a row-local sequence+explode "
    "— fan-out ≤ 4, zero extra shuffles. Per (lang, epoch) counts "
    "prove the explode end-to-end; exact integers throughout.",
    oracle="""
    WITH lc AS (
      SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang
    ),
    f AS (
      SELECT lang, chars,
             least(4, CAST(((SELECT max(chars) FROM lc) + chars - 1) // chars
                           AS BIGINT)) AS factor
      FROM lc
    )
    SELECT d.lang, CAST(ep.epoch AS BIGINT) AS epoch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(min(f.factor) AS BIGINT) AS repeat_factor
    FROM documents d
    JOIN f USING (lang),
    LATERAL (SELECT unnest(range(f.factor)) AS epoch) ep
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def corpus_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lc = d.groupBy("lang").agg(F.sum("n_chars").alias("chars"))
    # Control-plane scalar: the largest language's char mass.
    mx = lc.agg(F.max("chars")).collect()[0][0]
    f = lc.select(
        "lang",
        F.least(
            F.lit(4), F.expr(f"({int(mx)} + chars - 1) div chars")
        ).alias("factor"),
    )
    return (
        d.join(f, "lang")  # #langs-row side; AQE broadcasts it
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("factor") - 1)))
        .groupBy("lang", F.col("epoch").cast("long").alias("epoch"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("factor").cast("long").alias("repeat_factor"),
        )
        .orderBy("lang", "epoch")
    )


# --------------------------------------------------------------------------
# Intra-document repeated-sentence removal (boilerplate cleaning)
# --------------------------------------------------------------------------
@query(
    "corpus_sentence_dedup",
    tier="T3",
    doc="Intra-document dedup: each doc splits into '. '-delimited "
    "sentences and repeated sentences drop, KEEPING the first "
    "occurrence in order — the boilerplate/navigation cleaner that "
    "runs inside a doc, complementing the cross-doc dedup family. "
    "Entirely ROW-LOCAL higher-order functions (split → indexed "
    "filter keeping positions that are their sentence's first "
    "occurrence → re-join): zero shuffles, zero Python; identity "
    "gated by md5 of the cleaned text. Both engines evaluate the "
    "same first-occurrence-index predicate, so order preservation "
    "is by construction, not by engine-specific distinct semantics.",
    oracle="""
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(sents) - len(kept) AS BIGINT) AS n_removed,
           md5(array_to_string(kept, '. ')) AS cleaned_md5
    FROM (
      SELECT doc_id, sents,
             list_filter(sents, (x, i) -> list_position(sents, x) = i)
               AS kept
      FROM (
        SELECT doc_id, string_split(text, '. ') AS sents FROM documents
      )
    )
    ORDER BY doc_id
    """,
)
def corpus_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", "\\. ").alias("sents")
    )
    kept = F.expr(
        "filter(sents, (x, i) -> array_position(sents, x) - 1 = i)"
    )
    return d.select(
        "doc_id",
        F.size("sents").cast("long").alias("n_sentences"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("sents") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, ". ")).alias("cleaned_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# DSIR importance weights (hashed-bigram n-gram importance sampling)
# --------------------------------------------------------------------------
#: Hashed-feature dimension for DSIR (Xie et al. 2023, "Data Selection
#: for Language Models via Importance Resampling"): word bigrams hashed
#: into _DSIR_BUCKETS buckets; weights are the add-one-smoothed
#: log-likelihood ratio between a TARGET corpus (here source 'src0' —
#: the in-domain proxy) and the RAW pool (all documents).
_DSIR_BUCKETS = 512
_DSIR_TARGET_SOURCE = "src0"


@query(
    "corpus_dsir_weights",
    tier="T3",
    doc="DSIR importance weights: every document scored by how much "
    "its hashed-bigram distribution looks like the target domain — "
    "weight(d) = Σ_bigram [ln p_target(bucket) − ln p_raw(bucket)] "
    "with add-one smoothing, the published importance-resampling "
    "recipe for pretraining data selection. Determinism design: the "
    "per-bucket log-ratio collapses to ONE ln of an exact integer "
    "ratio ((t+1)(rtot+B) / ((r+1)(ttot+B))), quantized to e6 fixed-"
    "point BEFORE the per-doc sum, so document weights are exact "
    "int64 sums (float folds over a doc's bigrams would be order-"
    "dependent). Scale: one bigram explode (row-local indexed "
    "transform), one agg to the B-row bucket table (control plane, "
    "broadcast back), one agg per (doc, bucket), one broadcast join "
    "— the raw fact is scanned once; at 100 TB the bucket table is "
    "still 512 rows.",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, source,
             unnest([ws[i] || ' ' || ws[i + 1]
                     for i in generate_series(1, len(ws) - 1)]) AS bigram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
            FROM documents)
    ),
    hb AS (
      SELECT doc_id, source,
             CAST(('0x' || substring(md5(bigram), 1, 8)) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM bg
    ),
    buckets AS (
      SELECT bucket,
             CAST(sum(CASE WHEN source = '{_DSIR_TARGET_SOURCE}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
             CAST(count(*) AS BIGINT) AS r_cnt
      FROM hb GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(t_cnt) AS BIGINT) AS ttot,
             CAST(sum(r_cnt) AS BIGINT) AS rtot
      FROM buckets
    ),
    ratio AS (
      SELECT bucket,
             CAST(floor(1000000 * ln(
               CAST((t_cnt + 1) * (rtot + {_DSIR_BUCKETS}) AS DOUBLE)
               / CAST((r_cnt + 1) * (ttot + {_DSIR_BUCKETS}) AS DOUBLE)))
               AS BIGINT) AS ratio_e6
      FROM buckets CROSS JOIN tot
    ),
    db AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM hb GROUP BY 1, 2
    )
    SELECT db.doc_id,
           CAST(sum(db.cnt) AS BIGINT) AS n_bigrams,
           CAST(sum(db.cnt * ratio.ratio_e6) AS BIGINT) AS dsir_e6
    FROM db JOIN ratio USING (bucket)
    GROUP BY db.doc_id
    ORDER BY doc_id
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    bg = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1), "
                "(w, i) -> concat(w, ' ', ws[i + 1]))"
            )
        ).alias("bigram"),
    )
    hb = bg.select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    buckets = hb.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET_SOURCE, 1).otherwise(0)
        )
        .cast("long")
        .alias("t_cnt"),
        F.count("*").cast("long").alias("r_cnt"),
    )
    tot = buckets.agg(
        F.sum("t_cnt").cast("long").alias("ttot"),
        F.sum("r_cnt").cast("long").alias("rtot"),
    )
    b = _DSIR_BUCKETS
    ratio = buckets.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            1000000
            * F.log(
                ((F.col("t_cnt") + 1) * (F.col("rtot") + b)).cast("double")
                / ((F.col("r_cnt") + 1) * (F.col("ttot") + b)).cast("double")
            )
        )
        .cast("long")
        .alias("ratio_e6"),
    )
    db = hb.groupBy("doc_id", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    return (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("ratio_e6"))
            .cast("long")
            .alias("dsir_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# T3 — BPE encode (tokenizer APPLY: corpus compression under the merges)
# --------------------------------------------------------------------------
def _bpe_encode_oracle() -> str:
    from .text import _BPE_ROUNDS, _bpe_train_ctes

    ctes = _bpe_train_ctes()
    ctes.append(
        f"""v AS (
      SELECT word,
             CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok
      FROM s{_BPE_ROUNDS}
    )""",
    )
    ctes.append(
        """dw AS (
      SELECT d.source, t AS word, CAST(length(t) AS BIGINT) AS n_chars
      FROM documents d, unnest(regexp_extract_all(d.text, '[a-z]+')) AS u(t)
    )""",
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT dw.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(dw.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(v.n_tok) AS BIGINT) AS n_tokens,
           (CAST(sum(v.n_tok) AS BIGINT) * 1000000)
             // CAST(sum(dw.n_chars) AS BIGINT) AS tokens_per_char_e6
    FROM dw JOIN v USING (word)
    GROUP BY dw.source
    ORDER BY dw.source
    """
    )


@query(
    "corpus_bpe_encode",
    tier="T3",
    doc="Tokenizer APPLY: encode the corpus under the trained BPE "
    "merges (text_bpe_merges' 5 rounds) and report per-source "
    "compression — words, chars, post-merge token count, and "
    "tokens-per-char as an exact ppm integer. The apply step is the "
    "production-shaped half of BPE: the corpus explodes to words ONCE "
    "and joins the TRAINED VOCAB (word -> token count under the "
    "merges) — at 100 TB the vocab is millions of rows against "
    "billions of corpus words, so the join is size-gated to broadcast "
    "here and degrades to a shuffled word-key join with no code "
    "change (AQE decides; dictionary-attach doctrine of "
    "dedup/text_tfidf). Per-word token counts are row-local array "
    "lengths over the merged sequences; every aggregate is an exact "
    "int.",
    oracle=_bpe_encode_oracle(),
)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import bpe_train

    vocab, _ = bpe_train(spark, sf_dir)
    v = vocab.select(
        "word",
        F.size(F.split(F.trim(F.col("seq")), "  ")).cast("long").alias(
            "n_tok"
        ),
    )
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(text, '[a-z]+', 0)")
        ).alias("word"),
    ).withColumn("n_chars", F.length("word").cast("long"))
    return (
        dw.join(v, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "tokens_per_char_e6",
            F.expr("n_tokens * CAST(1000000 AS BIGINT) div n_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Training-order construction (round 9): global shuffle shards and
# mixture-weighted interleave — the two steps between a curated corpus
# and the byte stream a trainer actually reads.
# --------------------------------------------------------------------------
_SHUFFLE_SHARDS = 8
_HEAD_K = 3


@query(
    "corpus_shuffle_shards",
    tier="T3",
    doc="Deterministic global training shuffle + shard assignment: "
    "order key = md5('shuffle:'||doc_id) (32-bit prefix, doc_id "
    f"tiebreak), shard = key % {_SHUFFLE_SHARDS}, intra-shard order "
    "by key. A training run needs the corpus in a reproducible "
    "pseudo-random order — an actual global sort of 100 TB is the "
    "most expensive operation Spark can run, but hash-ordering "
    "needs NO total sort: shard = one hash exchange (exactly a "
    "shuffle write), intra-shard order = partition-local sort — "
    "i.e. the training shuffle is ONE repartition+sortWithinPartitions "
    "whatever the corpus size, and re-runs land byte-identical "
    "(contrast RNG-based shuffles, which change under retries / "
    "partition count). Emits per-shard balance stats + the first "
    f"{_HEAD_K} doc_ids in shard order (head probe rides "
    "WindowGroupLimit — partial top-k before the exchange). "
    "Complements corpus_split_assign (train/val/test membership) — "
    "this is the ORDER within the training split.",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS pos
      FROM documents
    ),
    s AS (SELECT doc_id, n_chars, pos, pos % {_SHUFFLE_SHARDS} AS shard FROM b),
    r AS (
      SELECT shard, doc_id, pos,
             row_number() OVER (PARTITION BY shard ORDER BY pos, doc_id) AS rn
      FROM s
    ),
    heads AS (
      SELECT shard,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos, doc_id)
               AS head_ids
      FROM r WHERE rn <= {_HEAD_K} GROUP BY shard
    )
    SELECT s.shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_chars) AS BIGINT) AS sum_chars,
           min(heads.head_ids) AS head_ids
    FROM s JOIN heads ON heads.shard = s.shard
    GROUP BY s.shard ORDER BY s.shard
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = d.select(
        "doc_id",
        "n_chars",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("pos"),
    ).withColumn("shard", F.col("pos") % _SHUFFLE_SHARDS)
    stats = s.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    w = Window.partitionBy("shard").orderBy("pos", "doc_id")
    heads = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HEAD_K)
        .groupBy("shard")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "doc_id"))
                    ),
                    lambda x: x["doc_id"].cast("string"),
                ),
                ",",
            ).alias("head_ids")
        )
    )
    return stats.join(heads, "shard").orderBy("shard")


@query(
    "corpus_interleave_order",
    tier="T3",
    doc="Mixture-weighted source interleave: the deterministic merge "
    "order in which a trainer consumes a multi-source corpus so that "
    "EVERY prefix of the stream holds each source in proportion to "
    "its size (the 'don't front-load one source' requirement — "
    "curriculum drift from source clumping is a real training "
    "pathology). Each doc gets a within-source shuffled rank rn "
    "(md5 order), then a virtual position (2*rn-1)*1e9 div (2*n_s) — "
    "the rank's midpoint quantile in [0,1) scaled to exact integer "
    "e9 — and the global order is simply ORDER BY vpos. "
    "Scale: vpos needs one count per source (broadcast back) and no "
    "shuffle beyond the md5-rank exchange; the emitted head of the "
    "stream rides TakeOrderedAndProject (top-k, never a global "
    "sort). The step after corpus_mixture_weights: that query decides "
    "HOW MUCH of each source, this one decides WHEN each doc arrives.",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5('interleave:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS pos
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, pos,
             row_number() OVER (PARTITION BY source ORDER BY pos, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n_s
      FROM b
    ),
    v AS (
      SELECT doc_id, source,
             (2 * rn - 1) * 1000000000 // (2 * n_s) AS vpos_e9
      FROM r
    ),
    topk AS (
      SELECT doc_id, source, vpos_e9
      FROM v ORDER BY vpos_e9, source, doc_id LIMIT 24
    )
    SELECT CAST(row_number() OVER (ORDER BY vpos_e9, source, doc_id)
                AS BIGINT) AS rank,
           doc_id, source, CAST(vpos_e9 AS BIGINT) AS vpos_e9
    FROM topk ORDER BY rank
    """,
)
def corpus_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    b = d.select(
        "doc_id",
        "source",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("interleave:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("pos"),
    )
    ws = Window.partitionBy("source").orderBy("pos", "doc_id")
    v = b.select(
        "doc_id",
        "source",
        F.expr(
            "(2 * CAST(row_number() OVER (PARTITION BY source"
            " ORDER BY pos, doc_id) AS BIGINT) - 1) * 1000000000"
        ).alias("_num"),
        F.count("*").over(Window.partitionBy("source")).alias("_n_s"),
    ).select(
        "doc_id",
        "source",
        F.expr("_num div (2 * _n_s)").alias("vpos_e9"),
    )
    topk = v.orderBy("vpos_e9", "source", "doc_id").limit(24)
    wr = Window.orderBy("vpos_e9", "source", "doc_id")
    return topk.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "doc_id",
        "source",
        F.col("vpos_e9").cast("long").alias("vpos_e9"),
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Content-defined chunking (round 10) — Rabin/FastCDC-family boundaries
# --------------------------------------------------------------------------
@query(
    "corpus_cdc_chunks",
    tier="T3",
    doc="Content-defined chunking + chunk-level dedup accounting: "
    "boundaries where the rolling 8-char polyhash ≡ 0 mod 64 "
    "(Rabin/LBFS chunking; FastCDC is the gear-hash refinement) — "
    "unlike fixed-size chunks, an edit shifts at most one boundary, "
    "so chunk-level dedup survives insertions, the property content-"
    "addressable training-data stores rely on. Per chunk: position, "
    "length, md5, and n_copies across the corpus (the CAS dedup "
    "savings signal). Exactness: boundary hashes are int64 polynomial "
    "folds mod 2^31-1 (identical fold both engines), chunk identity "
    "is md5. Scale: chunking is a row-local Arrow flat-map "
    "(operators/text.py:cdc_chunks_arrow — numpy rolling hash in "
    "mapInArrow, zero shuffles); the ONLY shuffle is the n_copies "
    "count on the 128-bit chunk "
    "digest — the same single-shuffle shape as dedup_exact, at chunk "
    "grain.",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, text,
        list_concat(list_concat(
          [CAST(0 AS BIGINT)],
          CASE WHEN length(text) >= {X.CDC_W} THEN
            [CAST(i + {X.CDC_W - 1} AS BIGINT)
             for i in range(1, length(text) - {X.CDC_W - 1} + 1)
             if list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(substring(text, j, 1)) AS BIGINT)
                   for j in range(i, i + {X.CDC_W})]),
                  (acc, c) -> (acc * 31 + c) % {X.ROLLING_MOD})
                % {X.CDC_DIVISOR} = 0
                AND i + {X.CDC_W - 1} < length(text)]
          ELSE [] END),
          [CAST(length(text) AS BIGINT)]) AS bounds
      FROM documents
    ),
    x AS (
      SELECT doc_id, text, bounds, unnest(range(1, len(bounds))) AS k
      FROM ch
    ),
    chunks AS (
      SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
             bounds[k] AS start_pos,
             bounds[k + 1] - bounds[k] AS chunk_len,
             md5(substring(text, CAST(bounds[k] + 1 AS INT),
                           CAST(bounds[k + 1] - bounds[k] AS INT)))
               AS chunk_md5
      FROM x WHERE bounds[k + 1] > bounds[k]
    )
    SELECT c.doc_id, c.chunk_idx, c.start_pos, c.chunk_len, c.chunk_md5,
           n.n_copies
    FROM chunks c
    JOIN (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies
          FROM chunks GROUP BY chunk_md5) n USING (chunk_md5)
    ORDER BY doc_id, chunk_idx
    """,
)
def corpus_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    # Arrow/numpy chunker (operators/text.py:cdc_chunks_arrow), not the
    # HOF fold: measured faster at sf0.1 AND the HOF form's jumbo
    # lambda tree was bisected (r13 item 1) as the JIT-deopt trigger
    # behind the minhash-family in-bench step — evaluating it even once
    # per session poisons every interpreted-HOF query that follows.
    chunks = X.cdc_chunks_arrow(d).persist()
    copies = chunks.groupBy("chunk_md5").agg(
        F.count("*").cast("long").alias("n_copies")
    )
    return (
        chunks.join(copies, "chunk_md5")
        .select(
            "doc_id", "chunk_idx", "start_pos", "chunk_len", "chunk_md5",
            "n_copies",
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "corpus_boilerplate_lines",
    tier="T3",
    doc="Corpus-level boilerplate-line profile (T3.4; the CCNet-style "
    "cross-document duplicate-line removal that complements the "
    "DOC-local Gopher duplication gates, text_gopher_dup_lines): a "
    "line occurring in >= 2 distinct documents is boilerplate (nav "
    "bars, cookie banners, licence footers — at web scale the K "
    "threshold rises, the plan does not change); per document, the "
    "count and character mass of its boilerplate lines plus the "
    "post-strip size. Scale shape: one explode to (doc, line), one "
    "map-side-combined distinct-doc count per line (the "
    "combiner-friendly word-count shape), the >= K filter collapses "
    "that table to the tiny boilerplate set, and the tag-back join is "
    "left-semi against that small side (AQE broadcasts it; an "
    "adversarial corpus where the set is large degrades to a "
    "shuffle-hash join, never a crossJoin) — then one per-doc "
    "re-aggregation. The driver's synthetic documents are single-line, "
    "so a doc's whole text is its one line and exact-duplicate texts "
    "(the planted dup pairs) are the boilerplate hits — "
    "degenerate-but-exact; the multi-line fixture test in "
    "tests/test_plans.py gates real line-grain behavior.",
    oracle=r"""
    WITH l AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), nonblank AS (
      SELECT doc_id, line FROM l WHERE line <> ''
    ), boiler AS (
      SELECT line FROM nonblank
      GROUP BY line HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT n.doc_id,
             CAST(count(*) AS BIGINT) AS boiler_lines,
             CAST(sum(length(n.line)) AS BIGINT) AS boiler_chars
      FROM nonblank n JOIN boiler b ON n.line = b.line
      GROUP BY n.doc_id
    )
    SELECT d.doc_id,
      CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
      coalesce(p.boiler_lines, 0) AS boiler_lines,
      coalesce(p.boiler_chars, 0) AS boiler_chars,
      CAST(length(d.text) - coalesce(p.boiler_chars, 0) AS BIGINT)
        AS kept_chars,
      coalesce(p.boiler_lines, 0) * 1000000
        // greatest(len(string_split(d.text, chr(10))), 1)
        AS boiler_line_ppm
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
)
def corpus_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    ).filter(F.col("line") != "")
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("line")
    )
    per_doc = (
        lines.join(boiler, "line", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("boiler_lines"),
            F.sum(F.length("line")).cast("long").alias("boiler_chars"),
        )
    )
    base = d.select(
        "doc_id",
        F.expr("CAST(size(split(text, '\\n')) AS BIGINT)").alias("n_lines"),
        F.length("text").cast("long").alias("text_chars"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("boiler_lines", F.lit(0)).cast("long").alias(
                "boiler_lines"
            ),
            F.coalesce("boiler_chars", F.lit(0)).cast("long").alias(
                "boiler_chars"
            ),
            (
                F.col("text_chars") - F.coalesce("boiler_chars", F.lit(0))
            ).cast("long").alias("kept_chars"),
            F.expr(
                "coalesce(boiler_lines, 0) * 1000000"
                " div greatest(n_lines, 1)"
            ).alias("boiler_line_ppm"),
        )
        .orderBy("doc_id")
    )
