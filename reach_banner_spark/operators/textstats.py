"""Text-analysis operators over ``documents`` (training-data pipeline).

- ``text_quality``   : length / punctuation / stopword / alpha ratios +
                       composite score, all JVM expressions (oracle-checked)
- ``lang_id``        : marker-word n-gram heuristic language ID (oracle)
- ``token_count_bpe``: whitespace + BPE-ish regex token counts (oracle)
- ``doc_fingerprint``: winnowing-style fingerprint = min MD5 over word
                       3-gram shingles (oracle via self-joined positions)
- ``contamination_ngram``: benchmark decontamination — per-doc fraction of
                       distinct 3-gram shingles found in a deterministic
                       held-out benchmark slice (broadcast membership)
- ``sample_stratified``: balanced per-source downsample by MD5 order
- ``mix_weights``    : per-source token share (domain-mixture weights)
- ``quality_oov_rate``: rare-word ratio vs the corpus's own frequent
                       vocabulary (broadcast head-vocab membership)
- ``chunk_tokens``   : fixed-size context-window chunking (pure array
                       algebra, zero shuffles)
- ``tfidf_topk``     : per-doc top-k keywords, log-free tf·N/df (bit-
                       identical ranking both engines; broadcast df)
- ``bm25_topk``      : Okapi BM25 top-20 for a fixed query, all-dyadic
                       constants, fixed-order term sum (heap top-k)
- ``dedup_passage``  : cross-doc duplicated-passage counts (boilerplate
                       signal; broadcast duplicate-hash membership)
- ``split_assign``   : deterministic hash-range train/val/test split
                       (zero-shuffle projection)
- ``shuffle_shard``  : shuffle-once training shards (md5 shard + in-shard
                       md5 rank; one shard-keyed exchange)
- ``bigram_novelty`` : fraction of corpus-unique bigrams per doc (n-gram
                       LM surprisal stand-in; exact integer dfs)

Everything stays in whole-stage codegen; no Python in any of these.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reach_banner_spark.fanout import fan_out

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(key: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[key] = (fn, sql)
        return fn

    return deco


def _docs(spark, sf):
    from ..caching import cached_scan

    return cached_scan(spark, f"{sf}/documents.parquet")


def _docs_par(spark, sf):
    """Documents scan rebalanced for compute-heavy map stages (the corpus
    files are single-row-group parquet, i.e. ONE scan split — see
    reach_banner_spark.fanout)."""
    return fan_out(_docs(spark, sf), "doc_id")


_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "on", "for"]
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "text_quality",
    "SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_q, "
    "CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words, "
    "ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / GREATEST(LENGTH(text), 1), 6) AS punct_ratio, "
    f"ROUND(CAST(LEN(list_filter(string_split(LOWER(text), ' '), w -> w IN ({_SW_SQL})))"
    " AS DOUBLE) / GREATEST(LEN(string_split(text, ' ')), 1), 6) AS stopword_ratio "
    "FROM documents",
)
def text_quality(spark, sf):
    d = _docs_par(spark, sf)
    words = F.split("text", " ")
    lower_words = F.split(F.lower("text"), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_chars = F.length("text").cast("long")
    punct = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
    sw_hits = F.size(F.filter(lower_words, lambda w: F.array_contains(sw, w)))
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        F.size(words).cast("long").alias("n_words"),
        F.round(punct / F.greatest(F.length("text"), F.lit(1)), 6).alias(
            "punct_ratio"
        ),
        F.round(
            sw_hits.cast("double") / F.greatest(F.size(words), F.lit(1)), 6
        ).alias("stopword_ratio"),
    )


_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
}


def _marker_hits_sql(lang: str) -> str:
    ws = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (
        f"LEN(list_filter(string_split(LOWER(text), ' '), w -> w IN ({ws})))"
    )


@register(
    "lang_id",
    "SELECT doc_id, CASE "
    f"WHEN {_marker_hits_sql('de')} > {_marker_hits_sql('en')} "
    f" AND {_marker_hits_sql('de')} >= {_marker_hits_sql('fr')} THEN 'de' "
    f"WHEN {_marker_hits_sql('fr')} > {_marker_hits_sql('en')} THEN 'fr' "
    f"WHEN {_marker_hits_sql('en')} > 0 THEN 'en' ELSE 'unknown' END AS lang_guess "
    "FROM documents",
)
def lang_id(spark, sf):
    d = _docs(spark, sf)
    lower_words = F.split(F.lower("text"), " ")

    def hits(lang: str):
        arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(lower_words, lambda w: F.array_contains(arr, w)))

    en, de, fr = hits("en"), hits("de"), hits("fr")
    return d.select(
        "doc_id",
        F.when((de > en) & (de >= fr), "de")
        .when(fr > en, "fr")
        .when(en > 0, "en")
        .otherwise("unknown")
        .alias("lang_guess"),
    )


@register(
    "token_count_bpe",
    "SELECT doc_id, "
    "CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, "
    "CAST(LEN(REGEXP_EXTRACT_ALL(text, "
    "'[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens "
    "FROM documents",
)
def token_count_bpe(spark, sf):
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_bpe_tokens"),
    )


# (doc_id, sh) rows: one MD5 word-3-gram shingle occurrence per row —
# shared by doc_fingerprint (min per doc) and contamination_ngram
# (benchmark-overlap membership)
_TRI_SH_SQL = (
    "SELECT a.doc_id, MD5(a.word || ' ' || b.word || ' ' || c.word) AS sh FROM "
    " (SELECT doc_id, CAST(generate_subscripts(words,1) AS INT) pos, unnest(words) word "
    "  FROM (SELECT doc_id, string_split(text,' ') words FROM documents)) a "
    "JOIN (SELECT doc_id, CAST(generate_subscripts(words,1) AS INT) pos, unnest(words) word "
    "  FROM (SELECT doc_id, string_split(text,' ') words FROM documents)) b "
    " ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN (SELECT doc_id, CAST(generate_subscripts(words,1) AS INT) pos, unnest(words) word "
    "  FROM (SELECT doc_id, string_split(text,' ') words FROM documents)) c "
    " ON a.doc_id = c.doc_id AND c.pos = a.pos + 2"
)


def _tri_md5_col():
    """MD5 word-3-gram shingle array over the array column ``w`` — a
    linear zip of the word array with its 1- and 2-shifted views (slice is
    O(n) once; a transform+element_at spelling re-walks the array per
    shingle — measured 6x slower). The two tail positions (and every
    position of a doc under 3 words) yield NULL; callers filter or rely on
    NULL-skipping aggregates."""
    w2 = F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0)))
    w3 = F.slice("w", 3, F.greatest(F.size("w") - 2, F.lit(0)))
    pair = F.zip_with(
        "w", w2, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
    )
    return F.zip_with(
        pair,
        w3,
        lambda p, c: F.when(p.isNotNull() & c.isNotNull(), F.md5(F.concat_ws(" ", p, c))),
    )


@register(
    "text_normalize",
    # Canonical pre-training text normalization: lowercase, strip
    # non-alphanumerics to spaces, collapse runs, trim. The corpus is
    # already clean lowercase ASCII, so the input is first MANGLED by
    # the SAME deterministic expression on both engines (upper-cased
    # prefix + injected punctuation) to make every normalization stage
    # do real work; a green row proves the full mangle -> normalize
    # round trip recovers the original token stream.
    "WITH m AS (SELECT doc_id, "
    " UPPER(SUBSTR(text, 1, 12)) || ' ,; ' || SUBSTR(text, 13) AS mangled "
    " FROM documents), "
    "n AS (SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE("
    " LOWER(mangled), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm "
    " FROM m) "
    "SELECT doc_id, norm, "
    "CAST(CASE WHEN norm = '' THEN 0 "
    " ELSE LEN(string_split(norm, ' ')) END AS BIGINT) AS n_tokens "
    "FROM n",
)
def text_normalize(spark, sf):
    """Text normalization — the first transform of every training-data
    pipeline (lowercase → punctuation to whitespace → collapse → trim),
    applied to a deterministically mangled copy of the corpus so each
    stage is exercised non-trivially (see the oracle comment).

    Scale shape: a zero-shuffle, zero-join codegen projection — three
    regex/case passes fused into one WholeStageCodegen stage; at 100 TB
    this runs at scan speed and is the map stage every downstream key
    (dedup, quality, tokenize) consumes."""
    d = _docs_par(spark, sf)
    mangled = F.concat(
        F.upper(F.substring("text", 1, 12)),
        F.lit(" ,; "),
        F.expr("substr(text, 13)"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(mangled), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm")).select(
        "doc_id",
        "norm",
        F.when(F.col("norm") == "", F.lit(0))
        .otherwise(F.size(F.split("norm", " ")))
        .cast("long")
        .alias("n_tokens"),
    )


@register(
    "doc_fingerprint",
    # winnowing-style: min MD5 over word-3-gram shingles per doc
    f"SELECT doc_id, MIN(sh) AS fingerprint FROM ({_TRI_SH_SQL}) sh GROUP BY doc_id",
)
def doc_fingerprint(spark, sf):
    # per-row md5 over every shingle is the cost — fan_out so the map
    # stage uses every core instead of the one-row-group scan split
    d = _docs_par(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    # array_min skips the NULL tail positions; docs with < 3 words produce
    # an all-NULL array -> NULL fingerprint. The row gate is size(w) >= 3
    # — EXACTLY the rows whose fingerprint is non-null (split elements are
    # never null, so every position 0..n-3 hashes) — because a
    # fingerprint-IS-NOT-NULL filter gets pushed below the projection and
    # re-evaluates the whole md5-shingle fold a second time per row
    # (guide §4.4 duplication, measured 0.45 s -> 3.8 s at sf1.0).
    return d.filter(F.size("w") >= 3).select(
        "doc_id", F.array_min(_tri_md5_col()).alias("fingerprint")
    )


@register(
    "sample_hash",
    # ~10% deterministic sample: first two MD5 hex chars of the doc id,
    # compared lexicographically — the same rows on every engine and every
    # run, no RNG. '19' keeps 0x00..0x19 = 26/256 ~ 10.2%.
    "SELECT doc_id, source FROM documents "
    "WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19'",
)
def sample_hash(spark, sf):
    """Deterministic hash sampling — the reproducible subsample every
    training-data pipeline needs (eval splits, ablations, cheap stats).
    Hash-gating beats TABLESAMPLE/rand() because the predicate is pure:
    the same doc set falls in the sample across engines, runs, and
    repartitions, and Catalyst pushes the filter into the scan. Rate is
    tuned by the hex prefix bound (here ~10%)."""
    d = _docs(spark, sf)
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "19"
    ).select("doc_id", "source")


@register(
    "corpus_stats",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_words, "
    "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources, "
    "printf('%.6f', ROUND(SUM(LENGTH(text)) * 1.0 / COUNT(*), 6)) AS avg_chars "
    "FROM documents",
)
def corpus_stats(spark, sf):
    """One-row corpus profile (docs, whitespace tokens, sources, mean
    length) — the dashboard numbers published per ingest batch. Pure
    map-side partial aggregation; the final exchange carries one row per
    partition. avg emitted as exact-sum / exact-count formatted to 6
    decimals (float rule)."""
    d = _docs(spark, sf)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_words"),
        F.countDistinct("source").alias("n_sources"),
        F.format_string(
            "%.6f",
            F.round(
                F.sum(F.length("text")).cast("double") / F.count(F.lit(1)), 6
            ),
        ).alias("avg_chars"),
    )


@register(
    "quality_repetition",
    # Gopher-style repetition signals per doc: type-token ratio, fraction
    # of tokens taken by the single most frequent word, fraction of
    # bigrams taken by the most frequent bigram. Same shuffle spelling
    # both engines (token explode -> per-token counts -> per-doc rollup).
    "WITH w AS (SELECT doc_id, CAST(generate_subscripts(words, 1) AS INT) AS pos, "
    " unnest(words) AS word FROM "
    " (SELECT doc_id, string_split(text, ' ') AS words FROM documents)), "
    "wc AS (SELECT doc_id, MAX(c) AS top_w, SUM(c) AS n_w, COUNT(*) AS n_distinct "
    " FROM (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word) "
    " GROUP BY doc_id), "
    "bc AS (SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM ("
    " SELECT a.doc_id, a.word || ' ' || b.word AS big, COUNT(*) AS c "
    " FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    " GROUP BY a.doc_id, big) GROUP BY doc_id) "
    "SELECT wc.doc_id, CAST(n_w AS BIGINT) AS n_words, "
    "printf('%.6f', ROUND(CAST(n_distinct AS DOUBLE) / CAST(n_w AS DOUBLE), 6)) AS ttr, "
    "printf('%.6f', ROUND(CAST(top_w AS DOUBLE) / CAST(n_w AS DOUBLE), 6)) AS top_word_frac, "
    "printf('%.6f', ROUND(CAST(COALESCE(top_bg, 0) AS DOUBLE) "
    " / CAST(GREATEST(COALESCE(n_bg, 0), 1) AS DOUBLE), 6)) AS top_bigram_frac "
    "FROM wc LEFT JOIN bc ON bc.doc_id = wc.doc_id",
)
def quality_repetition(spark, sf):
    """Per-document repetition signals — the Gopher quality-filter family
    (Rae et al. 2021 §A1.1): type-token ratio, top-word fraction, and
    top-bigram fraction. Repetitive machine-generated or boilerplate text
    scores high on the fractions and low on TTR; a training-data filter
    gates on these next to ``text_quality``'s surface ratios.

    Scale shape (r6): the whole document already lives in ONE row, so
    every per-doc statistic is computable row-locally with array algebra
    — ZERO shuffles (was: two explode->groupBy shuffle pipelines + a
    doc-keyed join). The per-doc mode (most frequent token) is a
    run-length maximum over the SORTED word array: array_sort is
    O(n log n) per row, and the fold is a single JVM ``aggregate`` with
    a (prev, run, best) struct accumulator — linear, never the naive
    O(doc_len^2) per-row count-of-each-element. Bigrams come from the
    same word array via the shifted-slice zip and take the identical
    sort+fold. At 100 TB this runs at scan speed; the shuffle spelling
    it replaces carried one row per token occurrence through two
    exchanges. Counts are identical integers, so the %.6f float
    contract is untouched."""
    d = _docs_par(spark, sf).select(
        "doc_id", F.split("text", " ").alias("w")
    )

    def run_max(arr):
        # max run length over the sorted array == max multiplicity
        zero = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(a, x):
            run = F.when(
                x.eqNullSafe(a.getField("prev")), a.getField("run") + 1
            ).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(a.getField("best"), run).alias("best"),
            )

        return F.aggregate(
            F.array_sort(arr), zero, step, lambda a: a.getField("best")
        )

    # bigrams = zip of the word array with its 1-shifted view (same trick
    # as doc_fingerprint); the tail position yields NULL, removed by
    # array_compact so each doc keeps exactly len(w) - 1 bigrams
    w2 = F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0)))
    big = F.array_compact(
        F.zip_with(
            "w", w2, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
        )
    )
    scored = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_w"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct"),
        run_max("w").alias("top_w"),
        F.size(big).cast("long").alias("n_bg"),
        run_max(big).alias("top_bg"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    # ROUND before formatting: DuckDB's printf rounds decimal ties
    # half-to-even while the JVM's rounds HALF_UP, so a dyadic ratio like
    # 1/128 = 0.0078125 would format as 0.007812 vs 0.007813. ROUND(x, 6)
    # itself ties half-away on BOTH engines (verified), and formatting an
    # already-rounded double can never hit a 7th-digit tie again.
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return scored.select(
        "doc_id",
        F.col("n_w").cast("long").alias("n_words"),
        fmt6(dbl("n_distinct") / dbl("n_w")).alias("ttr"),
        fmt6(dbl("top_w") / dbl("n_w")).alias("top_word_frac"),
        fmt6(
            dbl("top_bg") / F.greatest(dbl("n_bg"), F.lit(1.0))
        ).alias("top_bigram_frac"),
    )


@register(
    "corpus_filter",
    # The canonical LLM training-data filter as ONE query: language gate +
    # quality gates + exact-dup survivorship. The dedup window keeps the
    # min doc_id per MD5(text); quality thresholds chosen to be selective
    # on this corpus (~55% survives). Same spelling both engines.
    "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
    "printf('%.6f', ROUND(sw_ratio, 6)) AS stopword_ratio FROM ("
    " SELECT doc_id, text, n_words, punct_ratio, sw_ratio, en_hits, "
    "  MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper FROM ("
    "  SELECT doc_id, text, "
    "   LEN(string_split(text, ' ')) AS n_words, "
    "   LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0"
    "    / GREATEST(LENGTH(text), 1) AS punct_ratio, "
    f"   LEN(list_filter(string_split(LOWER(text), ' '), w -> w IN ({_SW_SQL})))"
    "    * 1.0 / GREATEST(LEN(string_split(text, ' ')), 1) AS sw_ratio, "
    "   LEN(list_filter(string_split(LOWER(text), ' '), "
    "    w -> w IN ('the', 'and', 'of'))) AS en_hits "
    "  FROM documents) s"
    ") WHERE en_hits > 0 AND n_words >= 20 AND punct_ratio <= 0.1 "
    "AND sw_ratio >= 0.05 AND doc_id = keeper",
)
def corpus_filter(spark, sf):
    """End-to-end training-data corpus filter (the composition a 100 TB
    ingest pipeline runs first): English gate (marker heuristic, same as
    ``lang_id``'s 'en' arm), quality gates (min length, punctuation cap,
    stopword floor — ``text_quality``'s signals), and exact-duplicate
    survivorship (min doc_id per MD5, ``dedup_exact``'s grouping as a
    window). One scan + one window shuffle on MD5(text); all gates are
    pure JVM expressions evaluated BEFORE the shuffle where possible
    (Catalyst pushes the quality filters below the window only when they
    don't reference the window — here the dup window must see all rows,
    so the window runs first and the gates prune after; at 100 TB you
    split this into hash-dedup then filter, which ``dedup_exact`` +
    this key's gates compose to)."""
    return corpus_filter_df(_docs_par(spark, sf))


def quality_gate_cols(d: DataFrame) -> DataFrame:
    """Append the ingest-gate signal columns (n_words, punct_ratio,
    sw_ratio, en_hits) to a (doc_id, text, ...) frame — pure JVM
    expressions, shared by the batch ``corpus_filter`` and the streaming
    ingest twin so the gate definitions live exactly once."""
    lower_words = F.split(F.lower("text"), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    en = F.array(F.lit("the"), F.lit("and"), F.lit("of"))
    n_words = F.size(F.split("text", " "))
    punct_ratio = (
        F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    sw_ratio = (
        F.size(F.filter(lower_words, lambda w: F.array_contains(sw, w))).cast(
            "double"
        )
        / F.greatest(n_words, F.lit(1))
    )
    en_hits = F.size(F.filter(lower_words, lambda w: F.array_contains(en, w)))
    return d.select(
        "doc_id",
        "text",
        n_words.alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        sw_ratio.alias("sw_ratio"),
        en_hits.alias("en_hits"),
    )


def quality_gates():
    """The ingest gate predicate over ``quality_gate_cols`` output — a
    function, not a module constant: building a Column requires an
    active SparkContext, and this module must import session-free."""
    return (
        (F.col("en_hits") > 0)
        & (F.col("n_words") >= 20)
        & (F.col("punct_ratio") <= 0.1)
        & (F.col("sw_ratio") >= 0.05)
    )


def _filter_output_cols(df: DataFrame) -> DataFrame:
    """Project the contract columns of ``corpus_filter`` (shared with the
    streaming twin): doc_id, n_words, formatted stopword_ratio."""
    return df.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        # ROUND then format (both engines): a dyadic ratio IS an exact
        # 7-digit decimal tie (1/128 = 0.0078125) and printf ties
        # half-to-even in DuckDB but HALF_UP on the JVM; ROUND(x, 6) ties
        # half-away identically on both (verified), after which the
        # format can never hit a tie again, so the strings match
        # byte-for-byte even on power-of-two token counts.
        F.format_string("%.6f", F.round(F.col("sw_ratio"), 6)).alias(
            "stopword_ratio"
        ),
    )


def corpus_filter_df(d: DataFrame) -> DataFrame:
    """``corpus_filter`` over an explicit documents frame (the registered
    key binds it to the sf corpus; the streaming twin's pytest binds it
    to the staged subset)."""
    from pyspark.sql.window import Window

    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    scored = quality_gate_cols(d).withColumn("keeper", keeper)
    return _filter_output_cols(
        scored.filter(quality_gates() & (F.col("doc_id") == F.col("keeper")))
    )


# Benchmark membership = deterministic MD5-prefix gate on doc_id (same
# pure-predicate discipline as sample_hash): '0c' keeps 0x00..0x0c =
# 13/256 ~ 5% of docs as the held-out "benchmark suite".
_BENCH_PREFIX_BOUND = "0c"
_BENCH_PRED_SQL = (
    f"SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_BENCH_PREFIX_BOUND}'"
)


def _bench_pred():
    return (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        <= _BENCH_PREFIX_BOUND
    )


@register(
    "contamination_ngram",
    f"WITH sh AS ({_TRI_SH_SQL}), "
    f"b AS (SELECT DISTINCT sh FROM sh WHERE {_BENCH_PRED_SQL}), "
    f"d AS (SELECT DISTINCT doc_id, sh FROM sh WHERE NOT ({_BENCH_PRED_SQL})) "
    "SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, "
    "CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits, "
    "printf('%.6f', ROUND(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) * 1.0 "
    " / COUNT(*), 6)) AS contamination "
    "FROM d LEFT JOIN b ON b.sh = d.sh GROUP BY d.doc_id",
)
def contamination_ngram(spark, sf):
    """Benchmark-contamination check — the decontamination pass every LLM
    training pipeline runs before a corpus ships (GPT-3 §2.2 / PaLM-style
    13-gram overlap, here word 3-grams against this corpus's vocabulary):
    a deterministic ~5% MD5-prefix slice of docs plays the held-out
    benchmark suite; every remaining doc reports how many of its DISTINCT
    shingles appear anywhere in the benchmark set and the contaminated
    fraction. A real pipeline drops or flags docs above a threshold —
    emitting the per-doc ratio keeps the key composable and oracle-exact.

    Scale shape: the benchmark shingle set is bounded by the benchmark
    corpus (at 100 TB: the eval suites — MBs, not TBs), deduplicated and
    BROADCAST, so the fact side never shuffles for the membership test —
    one explode + map-side hash lookup + one partial-agg rollup keyed
    doc_id-first. The per-doc DISTINCT runs map-side against the same
    doc_id-keyed exchange the rollup needs anyway. At extreme benchmark
    sizes the broadcast set degrades gracefully to a bloom-filter gate +
    shuffle-join verify; this corpus sits far below that line."""
    docs = _docs(spark, sf)
    return contamination_scores(
        doc_shingles(docs.filter(~_bench_pred())),
        benchmark_shingles(docs),
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle-md5) rows of any (doc_id, text) frame —
    the shared fact side of the batch and streaming contamination keys.

    r6: the per-doc distinct is computed ROW-LOCALLY (array_distinct over
    the doc's own shingle array before the explode) — a document's
    shingles all live in one row, so the former distributed
    ``.distinct()`` was shuffling every (doc_id, 32-char md5) occurrence
    just to dedup within the row it came from. Zero exchanges now; the
    md5 map work rides a fan_out rebalance."""
    d = fan_out(docs, "doc_id").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    # localCheckpoint: Generate inlines its child, so exploding the
    # computed shingle array directly would re-run the md5 zip per
    # output row (the bigram_novelty lesson)
    sh = d.select(
        "doc_id", F.array_distinct(_tri_md5_col()).alias("shs")
    ).localCheckpoint()
    return sh.select("doc_id", F.explode("shs").alias("sh")).filter(
        F.col("sh").isNotNull()
    )


def benchmark_shingles(docs: DataFrame) -> DataFrame:
    """The deduplicated shingle set of the benchmark slice (MD5-prefix
    band of doc_ids) — the static reference index decontamination checks
    against; bounded by the benchmark corpus, broadcast by the caller.
    The cross-doc distinct still needs its exchange, but the in-row
    array_distinct prunes the explode first (r6)."""
    d = fan_out(docs.filter(_bench_pred()), "doc_id").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sh = d.select(
        F.array_distinct(_tri_md5_col()).alias("shs")
    ).localCheckpoint()
    return (
        sh.select(F.explode("shs").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def contamination_scores(docsh: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-doc contamination rollup over distinct (doc_id, sh) rows vs a
    benchmark shingle set (broadcast) — shared by ``contamination_ngram``
    and its streaming twin; one definition, one float contract."""
    hits = F.sum(F.coalesce("hit", F.lit(0)))
    return (
        docsh.join(F.broadcast(bench), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            hits.cast("long").alias("n_hits"),
            # ROUND before formatting — see quality_repetition's tie note
            F.format_string(
                "%.6f",
                F.round(
                    hits.cast("double") / F.count(F.lit(1)), 6
                ),
            ).alias("contamination"),
        )
    )


# Balanced-downsample cap per stratum: 3 of each source's 25 docs at this
# corpus; the point is the deterministic mechanism, not the rate.
_STRATUM_CAP = 3


@register(
    "sample_stratified",
    "SELECT doc_id, source FROM ("
    " SELECT doc_id, source, ROW_NUMBER() OVER ("
    "  PARTITION BY source ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
    " FROM documents) s "
    f"WHERE rn <= {_STRATUM_CAP}",
)
def sample_stratified(spark, sf):
    """Stratified (balanced per-source) downsample — the domain-rebalance
    step of a training-data mix: cap every source at ``_STRATUM_CAP``
    docs, chosen by MD5 order so the selection is a pure function of the
    data (same docs every engine, every run, every repartition; doc_id
    tie-break is unreachable — MD5 inputs are distinct — but pins total
    order anyway). Complements ``sample_hash``: that key thins globally
    at a fixed rate, this one equalizes strata.

    Scale shape: ONE window shuffle keyed on source. Stratum skew is the
    hazard at 100 TB (one source = half the corpus lands on one task);
    the production spelling gates on a per-source rate threshold first
    (pure predicate, no window) and only windows the survivors — at this
    corpus's uniform strata the single window IS that plan."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        _docs(spark, sf)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STRATUM_CAP)
        .select("doc_id", "source")
    )


@register(
    "mix_weights",
    "WITH s AS (SELECT source, COUNT(*) AS n_docs, "
    " SUM(LEN(string_split(text, ' '))) AS n_words FROM documents GROUP BY source) "
    "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(n_words AS BIGINT) AS n_words, "
    "printf('%.6f', ROUND(CAST(n_words AS DOUBLE) "
    " / (SELECT SUM(n_words) FROM s), 6)) AS weight "
    "FROM s",
)
def mix_weights(spark, sf):
    """Domain-mixture weights — each source's share of corpus tokens, the
    number a training recipe turns into sampling weights (the static core
    of DoReMi-style domain reweighting). Emitted as exact counts plus a
    %.6f-formatted share per the float rule.

    Scale shape: one partial+final aggregation onto the tiny source
    domain (map-side combine does virtually all reduction at 100 TB); the
    corpus total rides along as a broadcast 1-row crossJoin, not a driver
    action."""
    s = (
        _docs_par(spark, sf)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_words"),
        )
    )
    tot = s.agg(F.sum("n_words").cast("double").alias("tot"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        # ROUND before formatting — see quality_repetition's tie note
        F.format_string(
            "%.6f", F.round(F.col("n_words").cast("double") / F.col("tot"), 6)
        ).alias("weight"),
    )


# A word is in-vocabulary when the whole corpus uses it at least this
# often; rarer words count as OOV for the quality signal.
_OOV_MIN_COUNT = 5


@register(
    "quality_oov_rate",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "v AS (SELECT word FROM (SELECT word, COUNT(*) AS c FROM w GROUP BY word) "
    f" WHERE c >= {_OOV_MIN_COUNT}) "
    "SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
    "CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, "
    "printf('%.6f', ROUND(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0 "
    " / COUNT(*), 6)) AS oov_ratio "
    "FROM w LEFT JOIN v ON v.word = w.word GROUP BY w.doc_id",
)
def quality_oov_rate(spark, sf):
    """Rare-word (out-of-vocabulary) ratio per document — the CCNet-style
    lexical quality signal: text whose tokens mostly fall outside the
    corpus's own frequent vocabulary is noise, OCR garbage, or another
    language, and a training-data filter gates on this next to the
    surface ratios of ``text_quality``. In-vocabulary = used at least
    ``_OOV_MIN_COUNT`` times corpus-wide; exact integer counting, so the
    ratio is oracle-exact under the %.6f float rule.

    Scale shape: the vocabulary aggregation is explode -> (word) counts
    with map-side partial aggregation (Zipf: distinct words are sublinear
    in tokens); the membership side keeps only words at count >=
    ``_OOV_MIN_COUNT``, which truncates the long tail — the head
    vocabulary is small and BROADCAST, so the fact-side token stream
    never shuffles for the membership test, and the per-doc rollup rides
    the one doc_id-keyed exchange. At corpus scales where even the head
    vocabulary outgrows a broadcast, the same plan degrades to a
    shuffle-join on word with AQE skew handling (Zipf head words are the
    classic skew keys); this corpus sits far below that line."""
    w = _docs_par(spark, sf).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _OOV_MIN_COUNT)
        .select("word")
        .withColumn("hit", F.lit(1))
    )
    n_oov = F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            n_oov.cast("long").alias("n_oov"),
            # ROUND before formatting — see quality_repetition's tie note
            F.format_string(
                "%.6f",
                F.round(n_oov.cast("double") / F.count(F.lit(1)), 6),
            ).alias("oov_ratio"),
        )
    )


# Context-window chunk size in whitespace tokens; docs here run 10-99
# words, so each yields 1-4 chunks — the mechanism is what matters.
_CHUNK_TOKENS = 32


@register(
    "chunk_tokens",
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "c AS (SELECT doc_id, w, unnest(generate_series(0, "
    f" CAST(CEIL(LEN(w) / {_CHUNK_TOKENS}.0) AS INT) - 1)) AS ci FROM d) "
    "SELECT doc_id, CAST(ci AS INT) AS chunk_idx, "
    f"CAST(LEN(list_slice(w, ci * {_CHUNK_TOKENS} + 1, "
    f" (ci + 1) * {_CHUNK_TOKENS})) AS INT) AS n_tokens, "
    f"array_to_string(list_slice(w, ci * {_CHUNK_TOKENS} + 1, "
    f" (ci + 1) * {_CHUNK_TOKENS}), ' ') AS chunk "
    "FROM c",
)
def chunk_tokens(spark, sf):
    """Fixed-size context-window chunking — the sequence-preparation step
    between a filtered corpus and a training batch: split every document
    into consecutive ``_CHUNK_TOKENS``-token pieces, keeping (doc_id,
    chunk_idx) so chunks trace back to their source (dedup/decontamination
    verdicts propagate by doc_id). The last chunk per doc is short, as in
    real packing pipelines before the pad-or-pack decision.

    Scale shape: entirely per-row array algebra — one ``sequence`` over
    chunk indices, a ``transform`` + ``slice`` producing each chunk from
    the SAME word array with no re-scan of the text, one explode. No
    shuffle at all (the plan is scan -> project -> generate), so it
    pipelines with whatever partitioning the corpus already has; output
    row width is bounded by the chunk size."""
    d = _docs_par(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    cs = F.lit(_CHUNK_TOKENS)
    n_chunks = F.ceil(F.size("w") / cs.cast("double")).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("ci"), F.slice("w", i * cs + 1, cs).alias("cw")
        ),
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.ci").cast("int").alias("chunk_idx"),
        F.size("c.cw").cast("int").alias("n_tokens"),
        F.array_join("c.cw", " ").alias("chunk"),
    )


# Per-doc keyword count for tfidf_topk; ties broken by word so the
# selection is a total order on (score DESC, word).
_TFIDF_K = 5


@register(
    "tfidf_topk",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "tf AS (SELECT doc_id, word, COUNT(*) AS c_tf FROM w GROUP BY doc_id, word), "
    "df AS (SELECT word, COUNT(*) AS c_df FROM tf GROUP BY word), "
    "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
    "s AS (SELECT doc_id, tf.word AS word, c_tf, c_df, "
    "  CAST(c_tf * (SELECT n_docs FROM n) AS DOUBLE) / c_df AS score "
    " FROM tf JOIN df ON df.word = tf.word) "
    "SELECT doc_id, word, CAST(c_tf AS BIGINT) AS tf, "
    "CAST(c_df AS BIGINT) AS df, "
    "printf('%.6f', ROUND(score, 6)) AS tfidf FROM ("
    " SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "  ORDER BY score DESC, word) AS rn FROM s) r "
    f"WHERE rn <= {_TFIDF_K}",
)
def tfidf_topk(spark, sf):
    """Per-document top-``_TFIDF_K`` keywords by TF-IDF — the keyword /
    topic-signature extraction step of a corpus analysis (and the feature
    side of classic lexical retrieval). The weight is the log-free
    tf · N/df form: every factor is an exact integer, so the score is ONE
    correctly-rounded IEEE division and both engines produce the same bit
    pattern — ranking, tie-break (word order), and the %.6f emission are
    engine-identical by construction (libm log is not exactly rounded and
    would make cross-engine ordering fragile; N/df is order-equivalent to
    log(N/df) per term anyway since log is monotone).

    Scale shape: term counts are one (doc_id, word)-keyed partial+final
    aggregation; document frequencies aggregate THAT table onto the
    vocabulary (Zipf: sublinear in tokens) and come back as a BROADCAST
    join, so the fact side never shuffles for the df lookup; the top-k
    window runs per doc_id on the exchange the tf aggregation already
    produced. Corpus size rides along as a broadcast 1-row aggregate,
    not a driver action."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # localCheckpoint: df AND the fact side both derive from tf — without
    # it Spark re-runs the whole explode+aggregate lineage for each branch
    # (no ReusedExchange across the broadcast boundary; plan showed 2x
    # scans). Same materialize-the-shared-derivation pattern as
    # kg_queries._sym_edges.
    tf = (
        w.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c_tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("c_df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            (F.col("c_tf") * F.col("n_docs")).cast("double") / F.col("c_df"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        s.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= _TFIDF_K)
        .select(
            "doc_id",
            "word",
            F.col("c_tf").cast("long").alias("tf"),
            F.col("c_df").cast("long").alias("df"),
            F.format_string("%.6f", F.round("score", 6)).alias("tfidf"),
        )
    )


# BM25 over the documents table for a fixed 3-term query. All constants
# are DYADIC (k1=1.25, b=0.75, the +0.5 idf smoothing, k1+1=2.25) so no
# literal-parsing or decimal-promotion difference can perturb a bit; the
# idf is Robertson's ratio WITHOUT the log (log is monotone per term, and
# libm log is not exactly rounded across engines — the ratio keeps every
# arithmetic step a correctly-rounded IEEE op, making the double score,
# and hence the ranking, engine-identical by construction).
_BM25_QUERY = ("spark", "merge", "batch")
_BM25_TOPK = 20


@register(
    "bm25_topk",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "q AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(_BM25_QUERY)
    )
    + " FROM w WHERE word IN ("
    + ", ".join(f"'{t}'" for t in _BM25_QUERY)
    + ") GROUP BY doc_id), "
    "dl AS (SELECT doc_id, LEN(string_split(text, ' ')) AS dl FROM documents), "
    "st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, "
    " CAST(SUM(LEN(string_split(text, ' '))) AS DOUBLE) AS total_words "
    " FROM documents), "
    "dfs AS (SELECT "
    + ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(_BM25_QUERY))
    )
    + " FROM q), "
    "s AS (SELECT q.doc_id, "
    + " + ".join(f"tf{i}" for i in range(len(_BM25_QUERY)))
    + " AS n_hits, "
    + " + ".join(
        f"(((n_docs - df{i} + 0.5) / (df{i} + 0.5)) * "
        f"(CAST(tf{i} AS DOUBLE) * 2.25) / "
        f"(CAST(tf{i} AS DOUBLE) + 1.25 * "
        f"(0.25 + (0.75 * dl.dl) / (total_words / n_docs))))"
        for i in range(len(_BM25_QUERY))
    )
    + " AS score "
    " FROM q JOIN dl ON dl.doc_id = q.doc_id, st, dfs) "
    "SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, "
    "printf('%.6f', ROUND(score, 6)) AS bm25 "
    f"FROM s ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}",
)
def bm25_topk(spark, sf):
    """BM25 lexical retrieval: the global top-``_BM25_TOPK`` documents
    for the fixed query ``_BM25_QUERY``, scored with Okapi BM25
    (k1=1.25, b=0.75; log-free Robertson idf — see the constant block
    above for why every step is bit-identical across engines). The
    lexical complement of the ``ann_*`` vector-retrieval family: a real
    corpus-tooling stack serves both and fuses them.

    Scale shape: the postings side (docs containing a query term) is one
    filtered explode + per-doc conditional-sum aggregation — the filter
    pushes the |Q|-term IN-list into the scan, so the fact side shrinks
    BEFORE its only shuffle; document lengths ride a doc_id-keyed join
    with that tiny postings table pruning it; corpus stats and per-term
    document frequencies are broadcast 1-row aggregates. The final
    top-k is a TakeOrderedAndProject (per-partition heads + one driver
    merge), never a global sort. Per-term scores are summed in FIXED
    query order (one expression, no float-sum reorder), so the double
    ranking is run- and engine-deterministic."""
    d = _docs_par(spark, sf)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    terms = list(_BM25_QUERY)
    # localCheckpoint: the per-term dfs AND the fact side both derive
    # from the postings aggregate — materialize it once instead of
    # re-running the filtered explode per branch (see tfidf_topk note).
    q = (
        w.filter(F.col("word").isin(terms))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("word") == t, 1).otherwise(0)).alias(
                    f"tf{i}"
                )
                for i, t in enumerate(terms)
            ]
        )
        .localCheckpoint()
    )
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    # corpus stats aggregate the dl projection (not a fourth scan of the
    # docs table); both reduce to the same partial+final agg at scale
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("total_words"),
    )
    dfs = q.agg(
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(terms))
        ]
    )

    def term_score(i: int):
        tf = F.col(f"tf{i}").cast("double")
        dfi = F.col(f"df{i}")
        idf = (F.col("n_docs") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        denom = tf + F.lit(1.25) * (
            F.lit(0.25)
            + (F.lit(0.75) * F.col("dl"))
            / (F.col("total_words") / F.col("n_docs"))
        )
        return idf * (tf * F.lit(2.25)) / denom

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    n_hits = F.col("tf0")
    for i in range(1, len(terms)):
        n_hits = n_hits + F.col(f"tf{i}")
    return (
        q.join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dfs))
        .select(
            "doc_id",
            n_hits.cast("long").alias("n_hits"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select(
            "doc_id",
            "n_hits",
            F.format_string("%.6f", F.round("score", 6)).alias("bm25"),
        )
    )


# Passage unit for cross-document dedup, in whitespace tokens. 4 keeps
# the synthetic corpus's duplicate path non-degenerate (~5% of distinct
# passages repeat across docs at sf0.001); production boilerplate removal
# uses 50-100-token units — the plan is identical, only this constant
# changes.
_PASSAGE_TOKENS = 4


@register(
    "dedup_passage",
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "c AS (SELECT doc_id, w, unnest(generate_series(0, "
    f" CAST(CEIL(LEN(w) / {_PASSAGE_TOKENS}.0) AS INT) - 1)) AS ci FROM d), "
    f"ch AS (SELECT doc_id, MD5(array_to_string(list_slice(w, "
    f" ci * {_PASSAGE_TOKENS} + 1, (ci + 1) * {_PASSAGE_TOKENS}), ' ')) AS h "
    " FROM c), "
    "dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd "
    " FROM ch GROUP BY h) g WHERE nd >= 2) "
    "SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages, "
    "CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    " AS n_dup, "
    "printf('%.6f', ROUND(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) "
    " * 1.0 / COUNT(*), 6)) AS dup_fraction "
    "FROM ch LEFT JOIN dup ON dup.h = ch.h GROUP BY ch.doc_id",
)
def dedup_passage(spark, sf):
    """Cross-document duplicated-passage detection — the passage/paragraph
    level between whole-doc ``dedup_exact`` and within-doc
    ``quality_repetition``: split every doc into consecutive
    ``_PASSAGE_TOKENS``-token passages, hash each, and report per doc how
    many of its passages appear verbatim in at least one OTHER document
    (RefinedWeb/CCNet-style boilerplate signal — a pipeline drops docs
    above a dup_fraction threshold or strips the repeated passages).
    Exact integer counts; ratio under the %.6f float rule.

    Scale shape: passage extraction is the zero-shuffle ``chunk_tokens``
    array algebra + one hash; the duplicate set is ONE content-hash-keyed
    aggregation (map-side partial on (h, doc_id) pairs), and only hashes
    seen in >= 2 docs survive — at real dup rates that set is a small
    fraction of the corpus and is BROADCAST back, so the fact side never
    shuffles for the membership test and the per-doc rollup rides one
    doc_id exchange. A pathological all-duplicate corpus degrades the
    broadcast to a shuffle-join on h (content hashes are uniform — no
    skew); this corpus sits far below that line.

    r6: the duplicate-set side dedups (h, doc_id) ROW-LOCALLY
    (array_distinct over the doc's own passage hashes) so its exchange
    is a plain partial-aggregable count — no COUNT(DISTINCT) Expand —
    and both derivations of the passage hashes ride the fan_out
    rebalance instead of the one-row-group scan split."""
    d = _docs_par(spark, sf).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    ps = F.lit(_PASSAGE_TOKENS)
    n_p = F.ceil(F.size("w") / ps.cast("double")).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_p - 1),
        lambda i: F.md5(F.array_join(F.slice("w", i * ps + 1, ps), " ")),
    )
    # localCheckpoint: Generate inlines its child, so exploding the
    # computed passage-hash array would re-run the md5/slice transform
    # per output row; the cut also lets the fact side and the
    # duplicate-set side share ONE derivation of the hashes.
    pas = d.select("doc_id", passages.alias("ps")).localCheckpoint()
    ch = pas.select("doc_id", F.explode("ps").alias("h"))
    dup = (
        pas.select(F.explode(F.array_distinct("ps")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
        .withColumn("hit", F.lit(1))
    )
    n_dup = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    return (
        ch.join(F.broadcast(dup), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            n_dup.cast("long").alias("n_dup"),
            # ROUND before formatting — see quality_repetition's tie note
            F.format_string(
                "%.6f",
                F.round(n_dup.cast("double") / F.count(F.lit(1)), 6),
            ).alias("dup_fraction"),
        )
    )


# --- PII scrubbing ---------------------------------------------------------
# The synthetic corpus carries no digits at all (verified: zero docs match
# [0-9]), so the scrubber's input is the corpus text AUGMENTED with
# deterministic doc_id-derived contact strings — computed by the SAME
# expression on both engines, so the oracle still checks the interesting
# part: the detection/redaction regexes and counts, not the injection.
# One third of docs get an email, one third a phone + second email, one
# third stay clean (counts exercise 0/1/2).
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_RE = "\\+1-555-[0-9]{4}"

_PII_AUG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' "
    " || CAST(doc_id AS VARCHAR) || '@mail.example.com now' "
    "WHEN doc_id % 3 = 1 THEN text || ' call +1-555-' "
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or u' "
    " || CAST(doc_id AS VARCHAR) || '@ex.org' "
    "ELSE text END"
)


@register(
    "pii_scrub",
    f"WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents) "
    "SELECT doc_id, "
    f"CAST(LEN(regexp_extract_all(aug, '{_PII_EMAIL_RE}')) AS BIGINT) "
    " AS n_emails, "
    f"CAST(LEN(regexp_extract_all(aug, '{_PII_PHONE_RE}')) AS BIGINT) "
    " AS n_phones, "
    f"regexp_replace(regexp_replace(aug, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'), "
    f" '{_PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed "
    "FROM a",
)
def pii_scrub(spark, sf):
    """PII detection + redaction — the privacy-scrub stage every
    LLM-training ingest runs before tokenization: count and mask email
    addresses and phone numbers (the two patterns here; a production list
    adds SSNs/IPs/credit cards as more alternations over the same plan).
    Counts are exact integers; the scrubbed text is a deterministic string
    so the whole row hash-matches the oracle.

    Scale shape: zero shuffles — scan -> project, one regex pass per
    pattern per row, all inside whole-stage codegen (Java regex JVM-side;
    no Python). Regexes are RE2-safe (no lookaround) so the same patterns
    run on engines that compile to DFAs; cost is linear in corpus bytes
    and pipelines with the scan."""
    d = _docs_par(spark, sf)
    aug = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" or u"),
                F.col("doc_id").cast("string"),
                F.lit("@ex.org"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# --- Sequence packing ------------------------------------------------------
# Training-sequence capacity in whitespace tokens, and the coarse-bucket
# width (docs per bucket) for the distributed prefix sum. Semantics are
# concat-and-split packing: documents concatenated in doc_id order, the
# stream cut every _PACK_CAP tokens, each doc labeled with the sequence
# its FIRST token lands in plus its offset there (GPT-style packing where
# documents cross sequence boundaries; the boundary-respecting variant
# changes only the seq_id arithmetic, not the prefix-sum plan).
_PACK_CAP = 256
_PACK_BUCKET = 64


@register(
    "pack_sequences",
    "WITH d AS (SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT)"
    " AS n_tok FROM documents), "
    "c AS (SELECT doc_id, n_tok, COALESCE(SUM(n_tok) OVER (ORDER BY doc_id "
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM d) "
    f"SELECT doc_id, n_tok, CAST(cumb // {_PACK_CAP} AS BIGINT) AS seq_id, "
    f"CAST(cumb % {_PACK_CAP} AS BIGINT) AS seq_offset FROM c",
)
def pack_sequences(spark, sf):
    """Global training-sequence packing — assign every document its
    position in the concat-and-split token stream (seq_id, seq_offset)
    that the batch assembler needs. The naive spelling is ONE global
    running sum, i.e. a single-partition window over the whole corpus —
    the classic scale killer. This is the distributed two-level prefix
    sum instead:

    1. per-doc token counts (zero-shuffle project),
    2. coarse buckets of ``_PACK_BUCKET`` consecutive doc_ids; per-bucket
       token totals via ONE map-side-combined aggregation,
    3. exclusive cumsum over the TINY bucket-totals table (n_docs/64
       rows — the only single-partition window, deliberately on the
       aggregate, mirroring how Spark's own rangepartition sampling
       centralizes only a sketch),
    4. broadcast the bucket offsets back; within-bucket exclusive cumsum
       is a window PARTITIONED by bucket, so the fact-side work is one
       bucket-keyed exchange with bounded partitions.

    cum_before = bucket_offset + within_bucket_cumsum, then
    seq_id = cum_before div cap, seq_offset = cum_before mod cap — all
    integer arithmetic, bit-exact vs the oracle's global window."""
    return pack_positions(_docs_par(spark, sf))


# Train/val/test split boundaries on the first two MD5 hex chars of
# doc_id: 256 buckets, val = first 3 (~1.2%), test = next 3, train = rest.
_SPLIT_VAL_BOUND = "02"
_SPLIT_TEST_BOUND = "05"


@register(
    "split_assign",
    "SELECT doc_id, CASE "
    f"WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_SPLIT_VAL_BOUND}'"
    " THEN 'val' "
    f"WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_SPLIT_TEST_BOUND}'"
    " THEN 'test' ELSE 'train' END AS split FROM documents",
)
def split_assign(spark, sf):
    """Deterministic train/val/test split assignment — the first thing a
    training run derives from a frozen corpus. Membership is a pure
    function of doc_id (MD5-prefix ranges, the ``sample_hash`` mechanism
    with three bands instead of one), so the split is stable across
    engines, runs, repartitions, and corpus growth: a doc never migrates
    between splits when new data arrives — the property random splits
    lose and hash splits exist to provide.

    Scale shape: a zero-shuffle projection; the split predicate rides the
    parquet scan and composes with any downstream filter. At 100 TB the
    split column is what you PARTITION the materialized table by, making
    val/test reads partition-pruned instead of full scans."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return _docs(spark, sf).select(
        "doc_id",
        F.when(h <= _SPLIT_VAL_BOUND, "val")
        .when(h <= _SPLIT_TEST_BOUND, "test")
        .otherwise("train")
        .alias("split"),
    )


@register(
    "shuffle_shard",
    "SELECT doc_id, shard, CAST(ROW_NUMBER() OVER (PARTITION BY shard "
    " ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos "
    "FROM (SELECT doc_id, SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard "
    " FROM documents) s",
)
def shuffle_shard(spark, sf):
    """Deterministic global training shuffle — assign every doc a shard
    and a position within that shard, both pure functions of doc_id
    (shard = first MD5 hex char -> 16 shards; position = rank by the full
    MD5 within the shard). This is how a pre-training pipeline writes
    shuffle-once shards: readers stream shards sequentially and the data
    order is already unbiased, with no epoch-time global sort and no RNG
    to version.

    Scale shape: ONE exchange keyed on shard; each shard's row_number is
    an independent per-partition sort (Spark never globally sorts). The
    16-way fan is deliberate at this corpus — production uses 4-hex-char
    shards (65,536), keeping every shard's sort bounded at ~1.5 GB per
    100 TB corpus; the plan shape is identical, only the prefix width
    changes."""
    from pyspark.sql.window import Window

    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy(h, "doc_id")
    return (
        _docs(spark, sf)
        .select("doc_id", F.substring(h, 1, 1).alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


_BIGRAM_SQL = (
    "SELECT doc_id, unnest(list_transform(generate_series(1, LEN(w) - 1), "
    "i -> w[i] || ' ' || w[i+1])) AS bg FROM "
    "(SELECT doc_id, string_split(text, ' ') AS w FROM documents) t "
    "WHERE LEN(w) >= 2"
)


@register(
    "bigram_novelty",
    f"WITH bg AS (SELECT DISTINCT doc_id, bg FROM ({_BIGRAM_SQL})), "
    "df AS (SELECT bg, COUNT(*) AS n_docs FROM bg GROUP BY bg) "
    "SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
    "CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, "
    "printf('%.6f', ROUND(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) * 1.0"
    " / COUNT(*), 6)) AS novelty "
    "FROM bg JOIN df ON df.bg = bg.bg GROUP BY bg.doc_id",
)
def bigram_novelty(spark, sf):
    """Corpus-level bigram novelty per document — the fraction of a doc's
    DISTINCT word bigrams that occur in NO other document. The cheap
    stand-in for an n-gram-LM surprisal signal: boilerplate and template
    text scores near 0 (every bigram is shared), fresh prose scores high;
    a training-data mix uses it opposite ``dedup_passage`` (which finds
    the shared passages) and next to ``quality_oov_rate`` (word-frequency
    based, within-doc). Exact integer document frequencies, so the ratio
    is oracle-exact under the %.6f float rule.

    Scale shape (r6): the per-doc DISTINCT bigram set is computed
    ROW-LOCALLY (array_distinct over the doc's own bigram array — the
    former distributed ``.distinct()`` shuffled every bigram occurrence
    to dedup within its source row), so ``n_bigrams`` is a zero-shuffle
    per-row ``size()``. A bigram with document frequency 1 belongs to
    exactly ONE document, so the big join-back on bigram disappears:
    the df aggregation carries ``min(doc_id)`` alongside the count, the
    df = 1 rows roll straight up to their owning doc, and the two
    doc-grain tables meet in one small doc-keyed left join. ONE
    bigram-keyed exchange total (was: distinct + df + join-back + rollup
    across four), Zipf-bounded as before. Counts are identical
    integers, so the %.6f float contract is untouched."""
    d = _docs_par(spark, sf).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bigrams = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> x || ' ' || w[i + 1])"
    )
    # localCheckpoint: Generate inlines its child expression, so an
    # explode over the computed bigram array re-evaluates the whole
    # transform PER OUTPUT ROW — O(len^2) per doc (measured 11 s for the
    # explode alone at sf1.0 vs 0.1 s from the checkpointed table). The
    # cut also lets per_doc and the explode share ONE derivation.
    docs2 = (
        d.filter(F.size("w") >= 2)
        .select("doc_id", F.array_distinct(bigrams).alias("bgs"))
        .localCheckpoint()
    )
    per_doc = docs2.select(
        "doc_id", F.size("bgs").cast("long").alias("n_bigrams")
    )
    bg = docs2.select("doc_id", F.explode("bgs").alias("bg"))
    df_tbl = bg.groupBy("bg").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("owner"),
    )
    uniq = (
        df_tbl.filter(F.col("n_docs") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("nu"))
    )
    n_unique = F.coalesce(F.col("nu"), F.lit(0)).cast("long")
    return per_doc.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        n_unique.alias("n_unique"),
        # ROUND before formatting — see quality_repetition's tie note
        F.format_string(
            "%.6f",
            F.round(
                n_unique.cast("double") / F.col("n_bigrams").cast("double"),
                6,
            ),
        ).alias("novelty"),
    )


@register(
    "macro_data_prep",
    # the full ingest-to-training-batches path as ONE query: quality +
    # language gates, exact-dup survivorship, train-split membership,
    # then token-stream packing (naive global window on the oracle side;
    # Spark runs the distributed two-level prefix sum — bit-equal).
    "WITH s AS (SELECT doc_id, text, "
    " LEN(string_split(text, ' ')) AS n_words, "
    " LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0"
    "  / GREATEST(LENGTH(text), 1) AS punct_ratio, "
    f" LEN(list_filter(string_split(LOWER(text), ' '), w -> w IN ({_SW_SQL})))"
    "  * 1.0 / GREATEST(LEN(string_split(text, ' ')), 1) AS sw_ratio, "
    " LEN(list_filter(string_split(LOWER(text), ' '), "
    "  w -> w IN ('the', 'and', 'of'))) AS en_hits FROM documents), "
    "k AS (SELECT doc_id, text FROM ("
    " SELECT *, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper FROM s)"
    " WHERE en_hits > 0 AND n_words >= 20 AND punct_ratio <= 0.1 "
    " AND sw_ratio >= 0.05 AND doc_id = keeper "
    f" AND SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) > '{_SPLIT_TEST_BOUND}'), "
    "d AS (SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT)"
    " AS n_tok FROM k), "
    "c AS (SELECT doc_id, n_tok, COALESCE(SUM(n_tok) OVER (ORDER BY doc_id "
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM d) "
    f"SELECT doc_id, n_tok, CAST(cumb // {_PACK_CAP} AS BIGINT) AS seq_id, "
    f"CAST(cumb % {_PACK_CAP} AS BIGINT) AS seq_offset FROM c",
)
def macro_data_prep(spark, sf):
    """The canonical ingest-to-training-batches macro — the whole data-
    prep path a pre-training run executes, composed from the SHARED
    stage definitions in one plan: ``corpus_filter``'s quality/language
    gates + exact-dup survivorship (quality_gate_cols / quality_gates,
    one definition), ``split_assign``'s train-band membership (pure
    predicate), then ``pack_sequences``' distributed two-level prefix
    sum over the surviving train docs. Demonstrates that the per-stage
    keys COMPOSE into one Catalyst plan (no materialization between
    stages) and stay bit-equal to the oracle's naive spelling.

    Scale shape: one MD5(text) window shuffle (survivorship), gates and
    split membership as pure expressions around it, then the packing's
    single bucket-keyed exchange + broadcast offsets. The surviving
    train set is ``localCheckpoint``ed between the stages — the packing
    prefix sum reads its input TWICE (bucket-totals branch + fact
    branch), and without the materialization each branch would re-run
    the survivorship window (audited: the plan showed the window
    exchange duplicated) — the same persist-between-stages discipline
    as the KG pipeline."""
    from pyspark.sql.window import Window

    scored = quality_gate_cols(_docs_par(spark, sf)).withColumn(
        "keeper",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    train = (
        scored.filter(
            quality_gates()
            & (F.col("doc_id") == F.col("keeper"))
            & (h > _SPLIT_TEST_BOUND)
        )
        .select("doc_id", "text")
        .localCheckpoint()
    )
    return pack_positions(train)


def pack_positions(docs, carry: int = 0):
    """The shared packing core over any ``(doc_id, text)`` DataFrame (see
    ``pack_sequences`` for the plan shape): two-level distributed prefix
    sum in doc_id order, token-stream position offset by ``carry`` tokens
    already emitted before this table — 0 for the batch key; the
    accumulated token count for the streaming twin's micro-batches."""
    from pyspark.sql.window import Window

    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.expr(f"doc_id div {_PACK_BUCKET}").alias("b"),
    )
    btot = d.groupBy("b").agg(F.sum("n_tok").alias("btot"))
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "b", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("b_off")
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(boff), "b")
        .withColumn(
            "cum_before",
            F.lit(int(carry))
            + F.col("b_off")
            + F.coalesce(F.sum("n_tok").over(w_in), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tok",
            F.expr(f"cum_before div {_PACK_CAP}").alias("seq_id"),
            (F.col("cum_before") % _PACK_CAP).alias("seq_offset"),
        )
    )


# BPE trainer: fixed merge-round count (the vocab-size knob; the point is
# the distributed trainer shape, not a production vocabulary).
BPE_ROUNDS = 8


@register("bpe_train", None)  # == python twin, pytest-pinned (bpe_train_py)
def bpe_train(spark, sf):
    """Distributed BPE-merge vocabulary training — the tokenizer-training
    step a data pipeline runs BEFORE ``token_count_bpe``-style counting
    can exist. Classic trainer decomposition (the one HF tokenizers /
    SentencePiece use): all pair statistics live on the DISTINCT-WORD
    table weighted by word frequency, so after the single corpus-scale
    aggregation (word counts) every round's work is bounded by VOCABULARY
    size, not corpus size. Per round:

      1. adjacent-symbol pair counts: one explode + partial-agg over the
         weighted vocab table (pairs ~ vocab x word-length, tiny);
      2. best pair = (count DESC, left ASC, right ASC) — deterministic
         integer argmax, ONE TakeOrderedAndProject row to the driver (the
         R bounded in-loop barriers are the algorithm: each round's merge
         choice gates the next round's statistics);
      3. the merge applies to every word as a pure JVM array left fold
         (leftmost-first, non-overlapping — fold semantics match because
         a merged symbol can never equal its own left constituent);
         localCheckpoint per round cuts the lineage (kg_reach discipline).

    Emits the merge table: (round, left, right, merged, pair_count).
    Exact integer statistics end-to-end -> bit-identical to the pure-
    python twin (``bpe_train_py``), pytest-pinned."""
    d = _docs_par(spark, sf)
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            # split-by-empty-regex can emit a trailing '' (Java split
            # keep-trailing semantics); filter to the bare char sequence
            # so Spark's syms == the twin's list(word)
            "syms", F.expr("filter(split(word, ''), c -> c <> '')")
        )
        .localCheckpoint()
    )
    merges = []
    for rnd in range(BPE_ROUNDS):
        pairs = vocab.select(
            "n",
            F.explode(
                F.expr(
                    "transform(slice(syms, 1, size(syms) - 1), "
                    "(x, i) -> struct(x AS l, syms[i + 1] AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rnd, left, right, left + right, cnt))
        la, rb = F.lit(left), F.lit(right)
        fold = F.aggregate(
            F.col("syms"),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.get(acc, F.size(acc) - 1) == la) & (s == rb),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.get(acc, F.size(acc) - 1), s)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.withColumn("syms", fold).localCheckpoint()
    return spark.createDataFrame(
        merges, "round int, left string, right string, merged string, "
        "pair_count long"
    )


def bpe_train_py(texts, rounds: int = BPE_ROUNDS):
    """Pure-python twin of ``bpe_train`` for the golden test: identical
    word counting, pair statistics, (count DESC, pair ASC) argmax, and
    leftmost-first non-overlapping merge application."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) for w in wc}
    merges = []
    for rnd in range(rounds):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            n = wc[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (left, right), cnt = best
        merges.append((rnd, left, right, left + right, cnt))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def _merge_fold(left: str, right: str):
    """The leftmost-first non-overlapping merge as a pure JVM array fold
    (shared spelling with the trainer's in-loop application)."""
    la, rb = F.lit(left), F.lit(right)
    return lambda syms_col: F.aggregate(
        syms_col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.get(acc, F.size(acc) - 1) == la) & (s == rb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.get(acc, F.size(acc) - 1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


@register("bpe_encode", None)  # == python twin (bpe_encode_py), pytest-pinned
def bpe_encode(spark, sf, rounds: int = BPE_ROUNDS):
    """Apply the trained BPE merge table to the corpus — the ENCODE half
    of the tokenizer (``bpe_train`` learns the merges; this key tokenizes
    with them and reports per-doc token economics: words, BPE tokens,
    characters). Same trainer decomposition on the apply side: merges are
    applied ONCE PER DISTINCT WORD (vocabulary-bounded work — the R
    JVM array folds compose into ONE nested expression, evaluated in a
    single pass over the vocab with no checkpoint between merges), then
    the per-word token length joins back to the corpus through a
    broadcast of the tiny (word, n_sym) map, so the only corpus-scale
    passes are the token explode and one doc_id-keyed aggregation.
    That distinct-word factoring is exactly how production tokenizer
    passes amortize encode cost at 100 TB (word frequency is Zipfian;
    the vocab table is orders of magnitude smaller than the corpus).
    Docs with no non-empty words drop out (no tokens to count — the twin
    replicates). Exact integers end-to-end -> bit-identical to
    ``bpe_encode_py``."""
    merges = [
        (r["left"], r["right"]) for r in bpe_train(spark, sf).collect()
    ]
    d = _docs_par(spark, sf)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    vocab = (
        toks.select("word")
        .distinct()
        .withColumn("syms", F.expr("filter(split(word, ''), c -> c <> '')"))
    )
    # Unlike the trainer (whose next round's statistics GATE on the
    # applied merge, forcing a materialization per round), the encode
    # side applies a FIXED merge list — so the R folds compose as one
    # nested expression evaluated in a single pass over the vocab, with
    # zero in-loop checkpoints (R fewer eager jobs; value-identical,
    # fold order preserved by construction).
    syms_col = F.col("syms")
    for left, right in merges:
        syms_col = _merge_fold(left, right)(syms_col)
    word_len = vocab.select(
        "word",
        F.size(syms_col).alias("n_sym"),
        F.length("word").alias("n_chr"),
    )
    return (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(word_len), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_tokens_bpe"),
            F.sum(F.col("cnt") * F.col("n_chr")).alias("n_chars"),
        )
    )


def bpe_encode_py(texts_with_ids, rounds: int = BPE_ROUNDS):
    """Pure-python twin of ``bpe_encode``: trains via ``bpe_train_py`` on
    the same texts, applies the merges per distinct word, and rolls up
    per-doc (n_words, n_tokens_bpe, n_chars)."""
    texts = [t for _, t in texts_with_ids]
    merges = bpe_train_py(texts, rounds)
    vocab: dict[str, list[str]] = {}
    for t in texts:
        for w in t.split(" "):
            if w and w not in vocab:
                vocab[w] = list(w)
    for _, left, right, _, _ in merges:
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    rows = []
    for doc_id, t in texts_with_ids:
        words = [w for w in t.split(" ") if w]
        if not words:
            continue
        rows.append(
            (
                doc_id,
                len(words),
                sum(len(vocab[w]) for w in words),
                sum(len(w) for w in words),
            )
        )
    return rows


_LINE_WORDS = 12  # pseudo-line width (the corpus has no newlines)
_MIN_LINE_WORDS = 3


@register(
    "quality_line_filter",
    # C4-style LINE-level quality gates re-aggregated to a doc decision.
    # Lines are fixed 12-word chunks by token position (identical
    # expression both engines; the corpus has no newline structure).
    f"WITH toks AS (SELECT doc_id, CAST(generate_subscripts(words, 1) - 1 "
    "AS INT) AS pos, unnest(words) AS word FROM "
    "(SELECT doc_id, string_split(text, ' ') AS words FROM documents) t), "
    f"lines AS (SELECT doc_id, pos // {_LINE_WORDS} AS line_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_words, "
    "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct, "
    f"BOOL_OR(word IN ({_SW_SQL})) AS has_stop FROM toks "
    "GROUP BY doc_id, line_id), "
    f"gated AS (SELECT doc_id, n_words >= {_MIN_LINE_WORDS} AND has_stop "
    "AND n_distinct * 2 >= n_words AS keep FROM lines) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, "
    "CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) "
    "AS n_kept, "
    "printf('%.6f', ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 "
    "/ COUNT(*), 6)) AS kept_ratio, "
    "SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 2 >= COUNT(*) AS keep_doc "
    "FROM gated GROUP BY doc_id",
)
def quality_line_filter(spark, sf):
    """C4-style line-level filtering (the granularity ``corpus_filter``'s
    doc-level gates don't cover): chunk each doc into fixed-width
    pseudo-lines, gate every line on the C4 heuristics that translate to
    this corpus (minimum words, contains a stopword — C4's terminal-
    punctuation stand-in for unpunctuated text — and a distinct-word
    floor against boilerplate repetition), then roll the line verdicts
    up to kept counts and a majority keep decision per doc.

    Scale shape: one explode + ONE doc-keyed aggregation tree (the line
    grain groups by (doc_id, line_id), the doc rollup reuses the doc_id
    prefix of that exchange); no joins, no second pass over text. The
    kept_ratio is ONE division ROUND-then-%.6f formatted (float rule)."""
    d = _docs_par(spark, sf)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    lines = (
        toks.withColumn("line_id", F.expr(f"pos div {_LINE_WORDS}"))
        .groupBy("doc_id", "line_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.countDistinct("word").alias("n_distinct"),
            F.max(F.array_contains(sw, F.col("word"))).alias("has_stop"),
        )
    )
    gated = lines.select(
        "doc_id",
        (
            (F.col("n_words") >= _MIN_LINE_WORDS)
            & F.col("has_stop")
            & (F.col("n_distinct") * 2 >= F.col("n_words"))
        ).alias("keep"),
    )
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return gated.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.coalesce(kept, F.lit(0)).cast("long").alias("n_kept"),
        F.format_string(
            "%.6f",
            F.round(kept.cast("double") / F.count(F.lit(1)), 6),
        ).alias("kept_ratio"),
        (kept * 2 >= F.count(F.lit(1))).alias("keep_doc"),
    )


# --- Corpus length distribution --------------------------------------------

@register(
    "corpus_length_dist",
    # Log2 length histogram. The bucket is the bit-length of n_chars
    # (floor(log2) + 1) computed by string length of the base-2 rendering
    # — pure integer/string ops, no float log whose rounding could flip a
    # power-of-two boundary value between engines.
    "WITH b AS (SELECT LENGTH(printf('%b', n_chars)) AS bucket, n_chars "
    " FROM documents) "
    "SELECT CAST(bucket AS BIGINT) AS bucket, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(MIN(n_chars) AS BIGINT) AS min_chars, "
    "CAST(MAX(n_chars) AS BIGINT) AS max_chars "
    "FROM b GROUP BY bucket",
)
def corpus_length_dist(spark, sf):
    """Document-length distribution in log2 buckets — the first profile a
    corpus curation pass prints (truncation candidates live in the top
    buckets, boilerplate in the bottom ones). The bucket key is the BIT
    LENGTH of n_chars (via base-2 string rendering), so a doc of exactly
    2^k chars can never land in different buckets on different engines
    the way floor(log2(x)) could under libm rounding.

    Scale shape: one map-side-combinable aggregation on a ~60-value key;
    reads only the n_chars column (pruned scan)."""
    d = _docs(spark, sf)
    return (
        d.select(
            F.length(F.conv(F.col("n_chars"), 10, 2)).cast("long").alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# --- Domain-mixture sampling ------------------------------------------------

_MIX_TARGET = 500  # total docs in the mixed sample


@register(
    "mix_sample",
    # Materialize the mix_weights table: per-source quotas allocated
    # proportionally to word share by EXACT integer arithmetic
    # (n_words * target // total_words — no float weight ever rounds a
    # quota), filled by deterministic MD5 order within each source.
    "WITH s AS (SELECT source, SUM(LEN(string_split(text, ' '))) AS n_words "
    " FROM documents GROUP BY source), "
    "q AS (SELECT source, CAST((n_words * "
    f"{_MIX_TARGET}) // (SELECT SUM(n_words) FROM s) AS BIGINT) AS quota "
    " FROM s), "
    "r AS (SELECT doc_id, source, ROW_NUMBER() OVER ("
    " PARTITION BY source ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk "
    " FROM documents) "
    "SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS pick_rank, q.quota "
    "FROM r JOIN q USING (source) WHERE r.rk <= q.quota",
)
def mix_sample(spark, sf):
    """Materialize a domain mixture: downsample the corpus so each source
    contributes docs in proportion to its word share (the consumption
    half of ``mix_weights`` — DoReMi-style weights turned into an actual
    training subset). Quotas are EXACT integer arithmetic
    (words × target // total), membership is the first ``quota`` docs per
    source under MD5 order — deterministic, stable under reruns, and
    unbiased w.r.t. doc content (the sample_hash discipline applied
    per-stratum, same shape as sample_stratified but with data-derived
    quotas instead of a fixed per-source cap).

    Scale shape: one source-keyed aggregation for the quota table
    (source-dimension-sized, broadcast back), one source-keyed window
    for the rank — a single fact exchange; the rank filter drops
    everything beyond the quota before any further stage."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_words")
    )
    tot = s.agg(F.sum("n_words").alias("total_words"))
    q = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(f"(n_words * {_MIX_TARGET}) div total_words")
            .cast("long")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("pick_rank")
    )
    return r.join(F.broadcast(q), "source").where(
        F.col("pick_rank") <= F.col("quota")
    ).select("doc_id", "source", "pick_rank", "quota")


# bigram stream keeping the two words as separate columns (the joined
# 'w1 w2' spelling lives in _BIGRAM_SQL); unnest-in-SELECT keeps the
# word array in scope so w[i]/w[i+1] project directly
_BIGRAM2_SQL = (
    "SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM "
    "(SELECT doc_id, w, unnest(generate_series(1, LEN(w) - 1)) AS i FROM "
    " (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t0 "
    " WHERE LEN(w) >= 2) t1"
)


@register(
    "lm_bigram",
    # Bigram conditional-probability table, top-100 by pair count: both
    # counts are exact integers, P(w2|w1) is ONE correctly-rounded IEEE
    # division (the tfidf_topk rule), full (cnt DESC, w1, w2) tie-break
    # makes the limit deterministic.
    f"WITH bg AS ({_BIGRAM2_SQL}), "
    "p AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg "
    " GROUP BY 1, 2), "
    "t AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cnt1 FROM p GROUP BY 1) "
    "SELECT p.w1, p.w2, p.cnt, t.cnt1, "
    "printf('%.6f', ROUND(CAST(p.cnt AS DOUBLE) / t.cnt1, 6)) AS p_cond "
    "FROM p JOIN t ON t.w1 = p.w1 "
    "ORDER BY p.cnt DESC, p.w1, p.w2 LIMIT 100",
)
def lm_bigram(spark, sf):
    """Bigram language model head — the top-100 word bigrams with their
    conditional probability P(w2 | w1) = count(w1 w2) / count(w1 ·).
    The estimation query behind every count-based n-gram LM (KenLM-style
    pipelines run exactly this at corpus scale before smoothing) and the
    complement of ``bigram_novelty`` (which asks what is UNshared; this
    asks what the corpus repeats). Counts are exact integers, the
    probability is one division under the %.6f float rule, and the
    (cnt DESC, w1, w2) tie-break pins the top-100 bit-for-bit.

    Scale shape: explode to bigram pairs, ONE pair-keyed partial+final
    aggregation (Zipf: distinct pairs are sublinear in tokens), the
    first-word totals derive from the PAIR table (never a second pass
    over facts) and join back keyed w1, global top-100 via
    TakeOrderedAndProject — no global sort materializes."""
    d = _docs_par(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), "
        "(x, i) -> struct(x AS w1, w[i + 1] AS w2))"
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    p = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    t = p.groupBy("w1").agg(F.sum("cnt").cast("long").alias("cnt1"))
    return (
        p.join(t, "w1")
        .select(
            "w1",
            "w2",
            "cnt",
            "cnt1",
            F.format_string(
                "%.6f",
                F.round(F.col("cnt").cast("double") / F.col("cnt1"), 6),
            ).alias("p_cond"),
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(100)
    )


@register(
    "lm_kneser_ney",
    # Interpolated Kneser-Ney bigram probabilities with the DYADIC
    # discount d = 0.75: every count (pair, left-total, follower and
    # predecessor type counts, total bigram types) is an exact integer,
    # d*nf and cnt-d are dyadic-exact doubles, and the whole probability
    # is ONE fixed IEEE chain — (cnt-d)/cnt1 + ((d*nf)/cnt1)*(np/T) —
    # spelled identically on both engines under ROUND+%.6f. cnt >= 1 so
    # max(cnt-d, 0) never binds. Tie-free (cnt DESC, w1, w2) top-100.
    f"WITH bg AS ({_BIGRAM2_SQL}), "
    "p AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg "
    " GROUP BY 1, 2), "
    "l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cnt1, "
    " CAST(COUNT(*) AS BIGINT) AS nf FROM p GROUP BY 1), "
    "r AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS np FROM p GROUP BY 1), "
    "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM p) "
    "SELECT p.w1, p.w2, p.cnt, l.cnt1, l.nf, r.np, "
    "printf('%.6f', ROUND("
    " (CAST(p.cnt AS DOUBLE) - CAST(0.75 AS DOUBLE)) / l.cnt1 "
    " + ((CAST(0.75 AS DOUBLE) * l.nf) / l.cnt1) "
    "   * (CAST(r.np AS DOUBLE) / t.tt), 6)) AS p_kn "
    "FROM p JOIN l ON l.w1 = p.w1 JOIN r ON r.w2 = p.w2, t "
    "ORDER BY p.cnt DESC, p.w1, p.w2 LIMIT 100",
)
def lm_kneser_ney(spark, sf):
    """Interpolated Kneser-Ney smoothed bigram model head — the top-100
    bigrams with P_KN(w2|w1) = max(c-d,0)/c(w1·) + λ(w1)·P_cont(w2),
    where λ(w1) = d·N1+(w1,·)/c(w1·) and P_cont(w2) = N1+(·,w2)/|types|
    — THE smoothing every serious count-based LM ships (KenLM's
    default; [K] Kneser & Ney 1995, Chen & Goodman 1998). The
    continuation probability is the famous part: 'Francisco' is
    frequent but follows only 'San', so its unigram back-off weight
    should be tiny — N1+(·,w2) counts distinct PREDECESSORS, not
    tokens. The companion to ``lm_bigram`` (raw MLE) and
    ``lm_freq_of_freqs`` (the Good-Turing alternative).

    Float discipline: d = 0.75 is dyadic, so cnt-d and d·nf are EXACT
    doubles; all five count families are exact integers; the
    probability is one fixed IEEE chain spelled identically on both
    engines (no libm log — KN needs none). cnt >= 1 means the max()
    never binds.

    Scale shape: ONE pair-keyed partial+final aggregation over the
    exploded bigrams (Zipf-sublinear), localCheckpoint'ed because
    three derived tables (left totals, predecessor-type counts, the
    type total) all read it — one fact pass; the two lookup tables
    come back as BROADCAST joins on the Zipf-bounded vocabulary, and
    the top-100 is a TakeOrderedAndProject."""
    d = _docs_par(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), "
        "(x, i) -> struct(x AS w1, w[i + 1] AS w2))"
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    p = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()
    )
    lt = p.groupBy("w1").agg(
        F.sum("cnt").cast("long").alias("cnt1"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    rt = p.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("np"))
    tt = p.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    dd = F.lit(0.75)
    p_kn = (F.col("cnt").cast("double") - dd) / F.col("cnt1") + (
        (dd * F.col("nf")) / F.col("cnt1")
    ) * (F.col("np").cast("double") / F.col("tt"))
    return (
        p.join(F.broadcast(lt), "w1")
        .join(F.broadcast(rt), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "cnt",
            "cnt1",
            "nf",
            "np",
            F.format_string("%.6f", F.round(p_kn, 6)).alias("p_kn"),
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(100)
    )


_RRF_TERMS = ("join", "scan")
_RRF_C = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_K = 20


@register(
    "retrieval_rrf",
    # Reciprocal-rank fusion of two term-frequency rankings. Ranks are
    # exact integers under tie-free total orders; the fused score is a
    # TWO-TERM fixed-order sum of exact reciprocals — the same IEEE op
    # sequence on both engines — formatted under the ROUND+%.6f rule.
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "tf AS (SELECT d.doc_id, "
    f" COALESCE(SUM(CASE WHEN word = '{_RRF_TERMS[0]}' THEN 1 END), 0) AS tf_a, "
    f" COALESCE(SUM(CASE WHEN word = '{_RRF_TERMS[1]}' THEN 1 END), 0) AS tf_b "
    " FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id "
    f"  AND word IN ('{_RRF_TERMS[0]}', '{_RRF_TERMS[1]}') "
    " GROUP BY d.doc_id), "
    "r AS (SELECT doc_id, "
    " ROW_NUMBER() OVER (ORDER BY tf_a DESC, doc_id) AS rank_a, "
    " ROW_NUMBER() OVER (ORDER BY tf_b DESC, doc_id) AS rank_b FROM tf) "
    "SELECT doc_id, CAST(rank_a AS BIGINT) AS rank_a, "
    "CAST(rank_b AS BIGINT) AS rank_b, "
    f"printf('%.6f', ROUND(1.0 / ({_RRF_C} + rank_a) + "
    f" 1.0 / ({_RRF_C} + rank_b), 6)) AS rrf_score "
    "FROM r "
    f"ORDER BY 1.0 / ({_RRF_C} + rank_a) + 1.0 / ({_RRF_C} + rank_b) DESC, "
    f"doc_id LIMIT {_RRF_K}",
)
def retrieval_rrf(spark, sf):
    """Reciprocal-rank fusion (RRF): merge two retrieval rankings into
    one by summing 1/(60+rank) per list — the standard hybrid-search
    combiner (lexical + semantic, or here two lexical term rankings),
    valuable precisely because it needs only RANKS, never comparable
    scores. [K] Cormack et al., SIGIR 2009.

    Exactness: each ranking is a ROW_NUMBER under a tie-free total
    order (tf DESC, doc_id), so ranks are exact integers; the fused
    score is one fixed two-term sum of exact-integer reciprocals —
    bit-identical across engines — and the top-k order ties break on
    doc_id.

    Scale shape: per-list ranks at 100 TB come from each retriever's
    own top-k (bounded lists), so the fusion join is list-sized; this
    key spells the corpus-wide contract: one explode-free conditional
    aggregate per doc (the word scan prunes to the 2 query terms),
    two global rank windows over the doc-grain table, and a
    TakeOrderedAndProject top-20."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    words = F.split(F.col("text"), " ")
    tf_of = lambda t: F.size(F.filter(words, lambda w: w == F.lit(t)))  # noqa: E731
    tf = d.select(
        "doc_id",
        tf_of(_RRF_TERMS[0]).cast("long").alias("tf_a"),
        tf_of(_RRF_TERMS[1]).cast("long").alias("tf_b"),
    )
    wa = Window.orderBy(F.desc("tf_a"), F.asc("doc_id"))
    wb = Window.orderBy(F.desc("tf_b"), F.asc("doc_id"))
    r = tf.select(
        "doc_id",
        F.row_number().over(wa).cast("long").alias("rank_a"),
        F.row_number().over(wb).cast("long").alias("rank_b"),
    )
    score = F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_a")) + F.lit(1.0) / (
        F.lit(_RRF_C) + F.col("rank_b")
    )
    return (
        r.withColumn("_s", score)
        .orderBy(F.desc("_s"), F.asc("doc_id"))
        .limit(_RRF_K)
        .select(
            "doc_id",
            "rank_a",
            "rank_b",
            F.format_string("%.6f", F.round(F.col("_s"), 6)).alias(
                "rrf_score"
            ),
        )
    )


# Retrieval evaluation: (ranking term, relevance-label term) per query —
# rank docs by tf of the first, judge by "contains the second with
# tf >= _MRR_REL_TF" (a held-out signal the ranker does not see).
_MRR_QUERIES = (("join", "hash"), ("spark", "stream"), ("vector", "window"))
_MRR_K = 20
_MRR_REL_TF = 3
_MRR_L = 232792560  # lcm(1..20): every reciprocal rank scales to an int


def _mrr_tf_cols():
    """The shared (doc_id, r{i}, l{i}) term-frequency projection of the
    ``_MRR_QUERIES`` set — ten retrieval-eval keys build this identical
    Column list, so it is constructed once per process (cached_exprs:
    expression TREES only, never data; the ~0.2 s/key construction cost
    was pure py4j round-trips)."""
    from ..caching import cached_exprs

    def _build():
        words = F.split(F.col("text"), " ")
        tf_of = lambda t: F.size(  # noqa: E731
            F.filter(words, lambda w: w == F.lit(t))
        )
        cols = [F.col("doc_id")]
        for i, (r, l) in enumerate(_MRR_QUERIES):
            cols += [tf_of(r).alias(f"r{i}"), tf_of(l).alias(f"l{i}")]
        return cols

    return cached_exprs("mrr_tf_cols", _build)



def _mrr_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    cands = ", ".join(
        f"c{i} AS (SELECT doc_id, l{i}, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1 QUALIFY rn <= {_MRR_K}), "
        f"f{i} AS (SELECT COALESCE(MIN(rn), 0) AS fr FROM c{i} "
        f"WHERE l{i} >= {_MRR_REL_TF})"
        for i in range(len(_MRR_QUERIES))
    )
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, CAST(f{i}.fr AS BIGINT) AS first_rank, "
        f"printf('%.6f', ROUND(CASE WHEN f{i}.fr > 0 "
        f"THEN CAST(1 AS DOUBLE) / f{i}.fr ELSE CAST(0 AS DOUBLE) END, 6)) "
        f"AS rr FROM f{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    num = " + ".join(
        f"(CASE WHEN f{i}.fr > 0 THEN CAST({_MRR_L} AS DOUBLE) / f{i}.fr "
        f"ELSE CAST(0 AS DOUBLE) END)"
        for i in range(len(_MRR_QUERIES))
    )
    den = len(_MRR_QUERIES) * _MRR_L
    froms = ", ".join(f"f{i}" for i in range(len(_MRR_QUERIES)))
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, first_rank, rr FROM ({per_q} UNION ALL "
        f"SELECT '__all__', CAST(0 AS BIGINT), "
        f"printf('%.6f', ROUND(({num}) / CAST({den} AS DOUBLE), 6)) "
        f"FROM {froms}) q"
    )


@register("retrieval_mrr", _mrr_sql())
def retrieval_mrr(spark, sf):
    """Mean reciprocal rank — retrieval EVALUATION as a query: for each
    (ranking term, label term) pair in ``_MRR_QUERIES``, rank documents
    containing the ranking term by its term frequency (tie-break
    doc_id), truncate to the top ``_MRR_K``, and score 1/rank of the
    first document carrying the held-out relevance signal (label-term
    tf >= ``_MRR_REL_TF``); the ``__all__`` row is the MRR over the
    query set — the metric every retrieval stack tracks per release.
    MRR is chosen over NDCG deliberately: NDCG's log2 discounts drag
    libm into the contract, while every reciprocal rank here scales to
    an EXACT integer by lcm(1..20), so the mean is one IEEE division of
    an exactly-represented sum — bit-identical across engines (the
    per-query rr is likewise a single division of exact integers).

    Scale shape: ONE corpus pass builds the per-doc term-frequency
    grain (array filter, no explode shuffle; localCheckpoint'ed so the
    per-query branches don't re-scan); each query's candidate cut is a
    TakeOrderedAndProject top-20 — per-partition heads + driver merge,
    never a global sort — and the rank window runs over 20 rows. At
    real scale queries() fan out as independent jobs over the same
    checkpointed grain."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    firsts = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_MRR_K)
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        ranked = cand.select(
            F.col(f"l{i}"), F.row_number().over(w).alias("rn")
        )
        firsts.append(
            ranked.filter(F.col(f"l{i}") >= _MRR_REL_TF).agg(
                F.coalesce(F.min("rn"), F.lit(0)).alias(f"fr{i}")
            )
        )
    one = firsts[0]
    for f_i in firsts[1:]:
        one = one.crossJoin(f_i)

    def rr(i: int):
        fr = F.col(f"fr{i}")
        return F.when(
            fr > 0, F.lit(1).cast("double") / fr
        ).otherwise(F.lit(0).cast("double"))

    num = None
    for i in range(len(_MRR_QUERIES)):
        fr = F.col(f"fr{i}")
        term = F.when(
            fr > 0, F.lit(_MRR_L).cast("double") / fr
        ).otherwise(F.lit(0).cast("double"))
        num = term if num is None else num + term
    mrr = num / F.lit(len(_MRR_QUERIES) * _MRR_L).cast("double")
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    rows = [
        F.struct(
            F.lit(f"{r}->{l}").alias("query"),
            F.col(f"fr{i}").cast("long").alias("first_rank"),
            fmt(rr(i)).alias("rr"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ] + [
        F.struct(
            F.lit("__all__").alias("query"),
            F.lit(0).cast("long").alias("first_rank"),
            fmt(mrr).alias("rr"),
        )
    ]
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query", "q.first_rank", "q.rr"
    )


# ------------------------------------------------------ inverted index ----

INDEX_HEAD_K = 20    # posting-head length (smallest-doc_id prefix)
INDEX_TOP_TERMS = 200  # reported dictionary head, (df DESC, term) order


@register(
    "index_inverted",
    # Inverted-index dictionary head: per term its document frequency,
    # collection frequency, and the first INDEX_HEAD_K postings (doc_ids
    # ascending) — all exact integers and a deterministic (df DESC,
    # term) top-INDEX_TOP_TERMS cut.
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    " FROM documents), "
    "g AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df, "
    " CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY term), "
    "d AS (SELECT DISTINCT term, doc_id FROM tok), "
    "r AS (SELECT term, doc_id, ROW_NUMBER() OVER (PARTITION BY term "
    " ORDER BY doc_id) AS rn FROM d), "
    f"h AS (SELECT term, array_to_string(list_sort(list(doc_id)), ',') "
    f" AS postings_head FROM r WHERE rn <= {INDEX_HEAD_K} GROUP BY term) "
    "SELECT g.term, df, cf, postings_head FROM g JOIN h ON h.term = g.term "
    f"ORDER BY df DESC, g.term LIMIT {INDEX_TOP_TERMS}",
)
def index_inverted(spark, sf):
    """Inverted-index construction — the retrieval-infrastructure
    operator under ``tfidf_topk``/``bm25_topk`` (both consume df; this
    key builds the dictionary itself): per term, document frequency,
    collection frequency, and the posting-list HEAD (the
    ``INDEX_HEAD_K`` smallest doc_ids, comma-joined) for the
    ``INDEX_TOP_TERMS`` highest-df terms. Emitting a bounded head
    instead of full posting lists is the deliberate 100 TB shape: a
    stop-word's full posting list is corpus-sized and a real index
    shards it by (term, doc-range) — the head is what a dictionary
    page stores, while df/cf stay exact over ALL postings.

    Scale shape: ONE fact-scale shuffle to the (term, doc_id) grain
    (map-side combine collapses within-doc repeats first); df/cf and
    the head both derive from that grain — df as a row count, never a
    second fact pass; the head's per-term window rides the same term
    keying (skewed stop-word partitions spill, they never collect
    unboundedly — the rn <= K cut bounds what reaches collect_list).
    Final cut is TakeOrderedAndProject, no global sort. Counts are
    exact BIGINTs; the only strings are the term and the joined head,
    so the whole row is oracle-exact.

    The grain is ``localCheckpoint``ed before the rollup: both rollup
    branches (stats, head) consume it, and without the cut Catalyst
    would tokenize + shuffle the fact table TWICE (plan-audited: 5
    exchanges -> 3, one fact pass)."""
    return index_rollup(
        term_doc_counts(_docs_par(spark, sf)).localCheckpoint()
    )


def term_doc_counts(d: DataFrame) -> DataFrame:
    """(term, doc_id, n) occurrence grain — the fact-scale half of
    ``index_inverted``, shared with the streaming twin: each document
    lands in exactly one micro-batch and per-(term, doc) counts are
    sum-mergeable, so the merged state equals the batch grain for any
    split."""
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def index_rollup(g: DataFrame) -> DataFrame:
    """Fold the (term, doc_id, n) grain into the dictionary head —
    shared by ``index_inverted`` and ``stream_index`` so the df/cf/
    head/top-cut semantics live ONCE."""
    from pyspark.sql.window import Window

    stats = g.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("n").cast("long").alias("cf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    head = (
        g.select("term", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= INDEX_HEAD_K)
        .groupBy("term")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(doc_id)), "
                "x -> CAST(x AS STRING)), ',')"
            ).alias("postings_head")
        )
    )
    return (
        stats.join(head, "term")
        .orderBy(F.col("df").desc(), "term")
        .limit(INDEX_TOP_TERMS)
        .select("term", "df", "cf", "postings_head")
    )


@register(
    "lm_freq_of_freqs",
    # Good-Turing frequency-of-frequencies: N_r = how many distinct
    # terms occur exactly r times, plus the adjusted count
    # r* = (r+1) * N_{r+1} / N_r where the successor bucket exists
    # (empty string where it doesn't — identical sentinel on both
    # engines). All integers exact; r* is ONE division under
    # ROUND-then-%.6f.
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term "
    " FROM documents), "
    "c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS r FROM tok "
    " GROUP BY term), "
    "f AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM c GROUP BY r) "
    "SELECT f.r, f.n_r, "
    "CASE WHEN g.n_r IS NULL THEN '' ELSE "
    " printf('%.6f', ROUND(CAST((f.r + 1) * g.n_r AS DOUBLE) "
    "  / CAST(f.n_r AS DOUBLE), 6)) END AS r_star "
    "FROM f LEFT JOIN f g ON g.r = f.r + 1",
)
def lm_freq_of_freqs(spark, sf):
    """Frequency-of-frequencies table — the Good-Turing smoothing input
    every count-based LM pipeline derives right after ``lm_bigram``'s
    raw counts: N_r = number of distinct terms with frequency exactly
    r, and the Good-Turing adjusted count r* = (r+1)·N_{r+1}/N_r (the
    expected true frequency of an r-count term; N_1/N estimates the
    unseen mass). Sparse high-r buckets have no successor and emit an
    empty-string r* — the same sentinel on both engines, never a NULL
    vs NaN mismatch.

    Float discipline: counts and bucket sizes are exact BIGINTs; r* is
    ONE correctly-rounded IEEE division under the shared ROUND/%.6f
    contract.

    Scale shape: explode to tokens, ONE term-keyed partial+final count
    (Zipf: distinct terms are sublinear in tokens), then a second
    aggregation over the VOCABULARY-sized count table into the
    r-domain (tens of rows) and a broadcast self-join on r+1 — nothing
    beyond the first aggregation ever touches facts."""
    tok = _docs_par(spark, sf).select(
        F.explode(F.split("text", " ")).alias("term")
    )
    c = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("r"))
    f = c.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    g = f.select(F.col("r").alias("r_next"), F.col("n_r").alias("n_next"))
    return (
        f.join(F.broadcast(g), F.col("r_next") == F.col("r") + 1, "left")
        .select(
            "r",
            "n_r",
            F.when(F.col("n_next").isNull(), F.lit("")).otherwise(
                F.format_string(
                    "%.6f",
                    F.round(
                        ((F.col("r") + 1) * F.col("n_next")).cast("double")
                        / F.col("n_r").cast("double"),
                        6,
                    ),
                )
            ).alias("r_star"),
        )
    )


_OV_WINDOW = 64  # sliding-window chunk width (tokens)
_OV_STRIDE = 32  # stride (50% overlap)


@register(
    "chunk_overlap",
    # Sliding-window chunking with stride: starts at 0, S, 2S, ...;
    # n_starts = 1 + ceil((n - W)/S) for n > W else 1, all INTEGER
    # arithmetic ((n - W + S - 1) // S — no float ceil), so both
    # engines enumerate identical windows.
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "s AS (SELECT doc_id, w, LEN(w) AS n, "
    f" unnest(generate_series(0, CASE WHEN LEN(w) <= {_OV_WINDOW} THEN 0 "
    f"  ELSE CAST((LEN(w) - {_OV_WINDOW} + {_OV_STRIDE} - 1) "
    f"   // {_OV_STRIDE} AS INT) END)) AS ci FROM d) "
    f"SELECT doc_id, CAST(ci AS INT) AS chunk_idx, "
    f"CAST(ci * {_OV_STRIDE} AS INT) AS start_tok, "
    f"CAST(LEN(list_slice(w, ci * {_OV_STRIDE} + 1, "
    f" ci * {_OV_STRIDE} + {_OV_WINDOW})) AS INT) AS n_tokens, "
    f"array_to_string(list_slice(w, ci * {_OV_STRIDE} + 1, "
    f" ci * {_OV_STRIDE} + {_OV_WINDOW}), ' ') AS chunk "
    "FROM s",
)
def chunk_overlap(spark, sf):
    """Overlapping sliding-window chunking — the RAG-retrieval
    complement of ``chunk_tokens``' disjoint splitter: windows of
    ``_OV_WINDOW`` tokens every ``_OV_STRIDE`` tokens (50% overlap), so
    no answer span is ever cut without also appearing whole in a
    neighboring chunk — the standard trade of index size for recall in
    retrieval pipelines. (doc_id, chunk_idx, start_tok) trace each
    chunk to its source offsets for span attribution. Window
    enumeration is pure integer arithmetic (no float ceil), identical
    on both engines; the last window is the document tail, short like
    chunk_tokens' final piece.

    Scale shape: per-row array algebra only (split once, sequence +
    slice over the same array, one explode) — zero shuffles; output
    is ~2x the corpus in tokens, the documented overlap cost."""
    d = _docs_par(spark, sf).select(
        "doc_id", F.split("text", " ").alias("w")
    ).withColumn("n", F.size("w"))
    n_extra = F.expr(
        f"CASE WHEN n <= {_OV_WINDOW} THEN 0 "
        f"ELSE (n - {_OV_WINDOW} + {_OV_STRIDE} - 1) div {_OV_STRIDE} END"
    )
    s = d.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), n_extra.cast("int"))).alias("ci"),
    )
    chunk_arr = F.expr(f"slice(w, ci * {_OV_STRIDE} + 1, {_OV_WINDOW})")
    return s.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        (F.col("ci") * _OV_STRIDE).cast("int").alias("start_tok"),
        F.size(chunk_arr).cast("int").alias("n_tokens"),
        F.array_join(chunk_arr, " ").alias("chunk"),
    )


def doc_lines(d):
    """(doc_id, ci, line) pseudo-line grain (12-word chunks) — the
    shared C4-style line table for ``dedup_lines`` and
    ``macro_dedup_report`` (localCheckpoint'ed: both consumers re-join
    against it)."""
    d = d.select("doc_id", F.split("text", " ").alias("w")).withColumn(
        "n", F.size("w")
    )
    n_chunks = F.expr(f"CAST(CEIL(n / {_LINE_WORDS}.0) AS INT)")
    c = d.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ci"),
    )
    return c.select(
        "doc_id",
        "ci",
        F.expr(
            f"array_join(slice(w, ci * {_LINE_WORDS} + 1, "
            f"{_LINE_WORDS}), ' ')"
        ).alias("line"),
    ).localCheckpoint()


def line_dup_marks(lines):
    """Per-line duplicate marks (doc_id, is_dup) over a pseudo-line
    grain: a line is a duplicate unless it sits at its FIRST global
    occurrence under the total (doc_id, position) order — spelled as
    two keyed min-aggregations, never a global row_number (the
    distributed 'first' discipline shared by ``dedup_lines`` and
    ``macro_dedup_report``)."""
    # iterative-self-join discipline (kg_reach): RENAME the derived
    # sides' columns before re-joining against `lines`
    f1 = lines.groupBy("line").agg(F.min("doc_id").alias("fdoc")).select(
        F.col("line").alias("f_line"), "fdoc"
    )
    f2 = (
        lines.join(
            f1,
            (lines["line"] == F.col("f_line"))
            & (lines["doc_id"] == F.col("fdoc")),
        )
        .groupBy("f_line", "fdoc")
        .agg(F.min("ci").alias("fci"))
    )
    return lines.join(f2, lines["line"] == F.col("f_line")).select(
        lines["doc_id"],
        F.when(
            (lines["doc_id"] == F.col("fdoc"))
            & (lines["ci"] == F.col("fci")),
            0,
        )
        .otherwise(1)
        .alias("is_dup"),
    )



@register(
    "dedup_lines",
    # Cross-document repeated-line removal (Lee et al. / C4 line dedup)
    # on the same 12-word pseudo-lines as quality_line_filter: a line
    # survives only at its FIRST occurrence under the total (doc_id,
    # line position) order; everything is exact integers and one
    # ROUND/%.6f ratio.
    f"WITH d AS (SELECT doc_id, string_split(text, ' ') AS w "
    " FROM documents), "
    "c AS (SELECT doc_id, unnest(generate_series(0, "
    f" CAST(CEIL(LEN(w) / {_LINE_WORDS}.0) AS INT) - 1)) AS ci, w FROM d), "
    f"lines AS (SELECT doc_id, ci, array_to_string(list_slice(w, "
    f" ci * {_LINE_WORDS} + 1, (ci + 1) * {_LINE_WORDS}), ' ') AS line "
    " FROM c), "
    "f1 AS (SELECT line, MIN(doc_id) AS fdoc FROM lines GROUP BY line), "
    "f2 AS (SELECT l.line, f1.fdoc, MIN(l.ci) AS fci FROM lines l "
    " JOIN f1 ON f1.line = l.line AND l.doc_id = f1.fdoc GROUP BY 1, 2), "
    "m AS (SELECT l.doc_id, CASE WHEN l.doc_id = f2.fdoc "
    " AND l.ci = f2.fci THEN 0 ELSE 1 END AS is_dup "
    " FROM lines l JOIN f2 ON f2.line = l.line) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, "
    "CAST(SUM(is_dup) AS BIGINT) AS n_dup, "
    "printf('%.6f', ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6)) "
    " AS dup_ratio FROM m GROUP BY doc_id",
)
def dedup_lines(spark, sf):
    """Cross-document line-level exact dedup — the Lee-et-al/C4 dedup
    granularity BETWEEN doc-level (``dedup_exact``) and passage
    similarity (``dedup_passage``): boilerplate headers, licence
    blocks and navigation chrome repeat line-for-line across documents
    that are globally unique, and line dedup is what removes them from
    training corpora. A pseudo-line (the ``quality_line_filter``
    12-word chunking — the corpus has no newlines) survives only at
    its FIRST occurrence under the total (doc_id, position) order;
    the key reports each document's duplicated-line count and ratio
    (exact integers; the ratio is one ROUND/%.6f division).

    Scale shape: lines derive per-row from the word array (zero
    shuffles — the chunk_tokens slicing), then ONE line-keyed
    aggregation finds first-owner docs, a second bounded aggregation
    pins the in-doc position, and the mark join re-keys on line —
    Zipf makes the distinct-line table sublinear in the corpus. No
    window over the global line order ever materializes (a global
    row_number would single-partition; min-of-(doc, pos) in two keyed
    aggregations is the distributed spelling of 'first')."""
    m = line_dup_marks(doc_lines(_docs_par(spark, sf)))
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("is_dup").cast("long").alias("n_dup"),
        F.format_string(
            "%.6f",
            F.round(
                F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6
            ),
        ).alias("dup_ratio"),
    )


# --- NDCG retrieval evaluation ----------------------------------------------

_NDCG_K = 10
_NDCG_RELCAP = 4
# 1/log2(r+1) discounts, precomputed ONCE in Python and inlined as
# shortest-round-trip literals into BOTH engines — repr() round-trips
# exactly and both engines' literal parsers are correctly-rounded, so
# the discount doubles are bit-identical by construction and libm's
# (non-IEEE-pinned) log2 never enters the contract — the limitation the
# retrieval_mrr docstring calls out, solved by constant folding.
import math as _math

_NDCG_DISC = tuple(
    repr(1.0 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
)


def _ndcg_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )

    def gain(i: int, rankcol: str) -> str:
        return " + ".join(
            f"CAST(COALESCE(MAX(CASE WHEN {rankcol} = {r} THEN rel END), 0) "
            f"AS DOUBLE) * {_NDCG_DISC[r - 1]}"
            for r in range(1, _NDCG_K + 1)
        )

    cands = ", ".join(
        f"c{i} AS (SELECT doc_id, LEAST(l{i}, {_NDCG_RELCAP}) AS rel, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1 QUALIFY rn <= {_NDCG_K}), "
        f"ci{i} AS (SELECT rel, rn, ROW_NUMBER() OVER "
        f"(ORDER BY rel DESC, rn) AS irn FROM c{i}), "
        f"a{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand, "
        f"({gain(i, 'rn')}) AS dcg, ({gain(i, 'irn')}) AS idcg FROM ci{i})"
        for i in range(len(_MRR_QUERIES))
    )
    ndcg = (
        lambda i: f"(CASE WHEN a{i}.idcg > 0 "
        f"THEN a{i}.dcg / a{i}.idcg ELSE CAST(0 AS DOUBLE) END)"
    )
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, a{i}.n_cand, "
        f"printf('%.6f', ROUND(a{i}.dcg, 6)) AS dcg, "
        f"printf('%.6f', ROUND({ndcg(i)}, 6)) AS ndcg FROM {froms}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for froms in (", ".join(f"a{j}" for j in range(len(_MRR_QUERIES))),)
    )
    mean = " + ".join(ndcg(i) for i in range(len(_MRR_QUERIES)))
    froms = ", ".join(f"a{i}" for i in range(len(_MRR_QUERIES)))
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, n_cand, dcg, ndcg FROM ({per_q} UNION ALL "
        f"SELECT '__all__', CAST(0 AS BIGINT), "
        f"printf('%.6f', ROUND(CAST(0 AS DOUBLE), 6)), "
        f"printf('%.6f', ROUND(({mean}) / CAST(3 AS DOUBLE), 6)) "
        f"FROM {froms}) q"
    )


@register("retrieval_ndcg", _ndcg_sql())
def retrieval_ndcg(spark, sf):
    """NDCG@10 retrieval evaluation over the ``retrieval_mrr`` query
    set, with GRADED relevance (label-term tf capped at 4 — MRR's
    binary signal can't distinguish a weakly from a strongly relevant
    hit; NDCG is the metric that can, and is what ranking teams
    actually report). Per query: rank docs containing the ranking term
    by its tf (tie-break doc_id), truncate to top-10, gain = capped
    label tf, discount = 1/log2(rank+1); IDCG re-sorts the retrieved
    list's gains descending (the 'local ideal' NDCG variant — both
    engines spell the identical definition). The ``__all__`` row is
    the mean NDCG over the query set.

    Float discipline: the log2 discounts are precomputed ONCE in
    Python and inlined as shortest-round-trip (repr) literals into
    both engines — correctly-rounded literal parsing makes the
    constants bit-identical by construction, so libm's unpinned log2
    never enters the contract (the limitation the retrieval_mrr
    docstring documents, closed by constant folding). Gains are exact
    integers cast to double; each DCG is a FIXED left-associated
    ten-term chain of (exact-cast * literal) products — never an
    unordered SUM — and NDCG is one further IEEE division; the mean is
    a fixed three-term chain plus one division.

    Scale shape: identical to retrieval_mrr — ONE corpus pass builds
    the checkpointed per-doc tf grain, each query's cut is a
    TakeOrderedAndProject top-10, the rank windows run over 10 rows,
    and queries fan out as independent jobs over the shared grain."""
    from pyspark.sql.window import Window

    from ..caching import cached_exprs

    def _exprs():
        cols = _mrr_tf_cols()

        def gain(rankcol: str):
            out = None
            for r in range(1, _NDCG_K + 1):
                term = F.coalesce(
                    F.max(F.when(F.col(rankcol) == r, F.col("rel"))), F.lit(0)
                ).cast("double") * F.lit(float(_NDCG_DISC[r - 1]))
                out = term if out is None else out + term
            return out

        fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731

        def ndcg(i: int):
            return F.when(
                F.col(f"idcg{i}") > 0, F.col(f"dcg{i}") / F.col(f"idcg{i}")
            ).otherwise(F.lit(0).cast("double"))

        mean = None
        for i in range(len(_MRR_QUERIES)):
            mean = ndcg(i) if mean is None else mean + ndcg(i)
        mean = mean / F.lit(3).cast("double")
        rows = [
            F.struct(
                F.lit(f"{r}->{l}").alias("query"),
                F.col(f"n{i}").alias("n_cand"),
                fmt(F.col(f"dcg{i}")).alias("dcg"),
                fmt(ndcg(i)).alias("ndcg"),
            )
            for i, (r, l) in enumerate(_MRR_QUERIES)
        ] + [
            F.struct(
                F.lit("__all__").alias("query"),
                F.lit(0).cast("long").alias("n_cand"),
                fmt(F.lit(0).cast("double")).alias("dcg"),
                fmt(mean).alias("ndcg"),
            )
        ]
        rel = (
            F.least(F.col("__l"), F.lit(_NDCG_RELCAP))
            .cast("long")
            .alias("rel")
        )
        return cols, gain("rn"), gain("irn"), rel, rows

    # the tf columns, both 10-term DCG chains, and the output structs
    # are fixed name-based Column trees — built once per process
    # (cached_exprs), value-identical; only the per-query DataFrame ops
    # below run per call
    cols, dcg_e, idcg_e, rel_e, rows = cached_exprs(
        "retrieval_ndcg", _exprs
    )

    d = _docs_par(spark, sf)
    tf = d.select(*cols).localCheckpoint()

    aggs = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_NDCG_K)
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        ranked = cand.select(
            F.col(f"l{i}").alias("__l"),
            F.row_number().over(w).alias("rn"),
        ).select(rel_e, "rn")
        wi = Window.orderBy(F.desc("rel"), F.asc("rn"))
        ci = ranked.select(
            "rel", "rn", F.row_number().over(wi).alias("irn")
        )
        aggs.append(
            ci.agg(
                F.count(F.lit(1)).cast("long").alias(f"n{i}"),
                dcg_e.alias(f"dcg{i}"),
                idcg_e.alias(f"idcg{i}"),
            )
        )
    one = aggs[0]
    for a_i in aggs[1:]:
        one = one.crossJoin(a_i)
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query", "q.n_cand", "q.dcg", "q.ndcg"
    )


# --- MAP retrieval evaluation -------------------------------------------------

_MAP_K = 10
# LCM(1..10) — every precision-at-rank denominator divides it, so the
# AP numerator sum(hits_at_i * (2520/i)) over hit ranks is an exact
# integer and AP itself is ONE IEEE division num / (2520 * min(R, k)).
_MAP_LCM = 2520
_MAP_W = tuple(_MAP_LCM // r for r in range(1, _MAP_K + 1))


def _map_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    wcase = (
        "CASE rn "
        + " ".join(
            f"WHEN {r} THEN {_MAP_W[r - 1]}" for r in range(1, _MAP_K + 1)
        )
        + " END"
    )
    per = ", ".join(
        f"c{i} AS (SELECT doc_id, "
        f" CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END AS hit, "
        f" ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f" FROM tf WHERE r{i} >= 1 QUALIFY rn <= {_MAP_K}), "
        f"h{i} AS (SELECT hit, rn, CAST(SUM(hit) OVER (ORDER BY rn "
        f"  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        f"  AS hcum FROM c{i}), "
        f"a{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS k{i}, "
        f" CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS hit{i}, "
        f" CAST(COALESCE(SUM(CASE WHEN hit = 1 "
        f"  THEN hcum * ({wcase}) END), 0) AS BIGINT) AS num{i} FROM h{i}), "
        f"g{i} AS (SELECT CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} "
        f" THEN 1 ELSE 0 END) AS BIGINT) AS rel{i} FROM tf)"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(
        f"a{i}, g{i}" for i in range(len(_MRR_QUERIES))
    )
    ap = (
        lambda i: f"(CASE WHEN rel{i} > 0 THEN CAST(num{i} AS DOUBLE) "
        f"/ CAST({_MAP_LCM} * LEAST(rel{i}, {_MAP_K}) AS BIGINT) "
        f"ELSE CAST(0 AS DOUBLE) END)"
    )
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, k{i} AS n_retrieved, "
        f"hit{i} AS n_hits, rel{i} AS n_relevant, "
        f"printf('%.6f', ROUND({ap(i)}, 6)) AS ap FROM {froms}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    mean = " + ".join(ap(i) for i in range(len(_MRR_QUERIES)))
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} "
        f"SELECT query, n_retrieved, n_hits, n_relevant, ap FROM ("
        f"{per_q} UNION ALL SELECT '__all__', CAST(0 AS BIGINT), "
        f"CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        f"printf('%.6f', ROUND(({mean}) / CAST(3 AS DOUBLE), 6)) "
        f"FROM {froms}) q"
    )


@register("retrieval_map", _map_sql())
def retrieval_map(spark, sf):
    """Mean average precision at k=10 over the ``retrieval_mrr`` query
    set — the order-sensitive set metric completing the eval family
    (MRR scores only the FIRST hit, NDCG needs graded labels, P/R@k
    ignores order entirely; AP is the binary-label metric that rewards
    putting every relevant doc early, and MAP is what IR leaderboards
    actually rank by). Per query: retrieved = top-10 docs by
    ranking-term tf (tie doc_id), hit = label-term tf >= the MRR
    relevance cut, AP = mean over hit ranks of precision-at-that-rank,
    normalized by min(n_relevant, k); the ``__all__`` row is the
    macro-average over the query set.

    Float discipline: precision-at-rank denominators all divide
    LCM(1..10) = 2520, so the AP numerator sum(hits_at_i * (2520/i))
    over hit ranks is an EXACT BIGINT (an unordered integer sum — no
    float accumulation exists) and AP is ONE IEEE division by the
    exact integer 2520 * min(R, k); the MAP row is the retrieval_ndcg
    discipline — a fixed left-associated three-term chain plus one
    division, identical on both engines. Zero-relevant queries report
    AP 0 by contract.

    Scale shape: identical to retrieval_mrr — ONE corpus pass builds
    the checkpointed per-doc tf grain, each query's cut is a
    TakeOrderedAndProject top-10, the cumulative-hit window runs over
    10 rows, and the corpus-grain relevant counts are one conditional
    aggregate per query over the shared grain."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    wexpr = None
    for r in range(1, _MAP_K + 1):
        br = F.when(F.col("rn") == r, F.lit(_MAP_W[r - 1]))
        wexpr = br if wexpr is None else wexpr.when(
            F.col("rn") == r, F.lit(_MAP_W[r - 1])
        )

    parts = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_MAP_K)
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        ranked = cand.select(
            F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1)
            .otherwise(0)
            .alias("hit"),
            F.row_number().over(w).alias("rn"),
        )
        wc = Window.orderBy("rn").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        h = ranked.select(
            "hit", "rn", F.sum("hit").over(wc).cast("long").alias("hcum")
        )
        a = h.agg(
            F.count(F.lit(1)).cast("long").alias(f"k{i}"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(f"hit{i}"),
            F.coalesce(
                F.sum(F.when(F.col("hit") == 1, F.col("hcum") * wexpr)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"num{i}"),
        )
        g = tf.agg(
            F.sum(F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0))
            .cast("long")
            .alias(f"rel{i}")
        )
        parts.append(a.crossJoin(g))
    one = parts[0]
    for p_i in parts[1:]:
        one = one.crossJoin(p_i)

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731

    def ap(i: int):
        return F.when(
            F.col(f"rel{i}") > 0,
            F.col(f"num{i}").cast("double")
            / (
                F.lit(_MAP_LCM)
                * F.least(F.col(f"rel{i}"), F.lit(_MAP_K))
            ).cast("long"),
        ).otherwise(F.lit(0).cast("double"))

    mean = None
    for i in range(len(_MRR_QUERIES)):
        mean = ap(i) if mean is None else mean + ap(i)
    mean = mean / F.lit(3).cast("double")
    rows = [
        F.struct(
            F.lit(f"{r}->{l}").alias("query"),
            F.col(f"k{i}").alias("n_retrieved"),
            F.col(f"hit{i}").alias("n_hits"),
            F.col(f"rel{i}").alias("n_relevant"),
            fmt(ap(i)).alias("ap"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ] + [
        F.struct(
            F.lit("__all__").alias("query"),
            F.lit(0).cast("long").alias("n_retrieved"),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(0).cast("long").alias("n_relevant"),
            fmt(mean).alias("ap"),
        )
    ]
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query", "q.n_retrieved", "q.n_hits", "q.n_relevant", "q.ap"
    )


# --- Held-out n-gram coverage ------------------------------------------------

@register(
    "lm_coverage",
    # Held-out n-gram coverage: split the corpus 80/20 by doc_id % 5,
    # count what fraction of test unigram/bigram TOKENS were seen in
    # the train split — every count is an exact integer (distinct
    # train vocabulary left-joined to test tokens), each rate ONE IEEE
    # division under ROUND + %.6f.
    f"WITH bg AS ({_BIGRAM2_SQL}), "
    "tu AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    " FROM documents), "
    "trb AS (SELECT DISTINCT w1, w2 FROM bg WHERE doc_id % 5 <> 0), "
    "teb AS (SELECT w1, w2 FROM bg WHERE doc_id % 5 = 0), "
    "tru AS (SELECT DISTINCT w FROM tu WHERE doc_id % 5 <> 0), "
    "teu AS (SELECT w FROM tu WHERE doc_id % 5 = 0), "
    "b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg, "
    " CAST(SUM(CASE WHEN trb.w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS cov_bg FROM teb LEFT JOIN trb "
    "  ON trb.w1 = teb.w1 AND trb.w2 = teb.w2), "
    "u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u, "
    " CAST(SUM(CASE WHEN tru.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS cov_u FROM teu LEFT JOIN tru ON tru.w = teu.w) "
    "SELECT n_u AS n_test_tokens, cov_u AS covered_tokens, "
    "printf('%.6f', ROUND(CAST(cov_u AS DOUBLE) / n_u, 6)) "
    " AS unigram_coverage, "
    "n_bg AS n_test_bigrams, cov_bg AS covered_bigrams, "
    "printf('%.6f', ROUND(CAST(cov_bg AS DOUBLE) / n_bg, 6)) "
    " AS bigram_coverage FROM b, u",
)
def lm_coverage(spark, sf):
    """Held-out n-gram coverage — the vocabulary/transition
    generalization check run before trusting any count-based LM
    (``lm_bigram`` / ``lm_kneser_ney`` estimate on the train split;
    this key measures how much of unseen text those tables can even
    score): split docs 80/20 by doc_id % 5, report the fraction of
    held-out unigram and bigram TOKENS whose type was observed in
    training. Token-weighted (not type-weighted) because that is the
    mass a model actually scores; the unigram rate upper-bounds the
    bigram rate on any corpus where bigram types are sparser —
    a cheap sanity invariant the pytest twin pins.

    Float discipline: all four counts are exact integers (distinct
    train type tables LEFT-joined to test tokens); each coverage rate
    is ONE correctly-rounded IEEE division under ROUND + %.6f.

    Scale shape: one corpus pass per grain (tokens, bigram pairs),
    each split by a pushed-down doc_id predicate; the DISTINCT train
    types are vocabulary-bounded (Zipf-sublinear in tokens) and
    broadcast to the test side, so the join never shuffles the token
    stream; two single-row aggregates and a 1x1 join finish it."""
    d = _docs_par(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), "
        "(x, i) -> struct(x AS w1, w[i + 1] AS w2))"
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    tu = d.select("doc_id", F.explode("w").alias("w"))
    is_test = F.col("doc_id") % 5 == 0
    trb = bg.filter(~is_test).select("w1", "w2").distinct()
    teb = bg.filter(is_test).select("w1", "w2")
    tru = tu.filter(~is_test).select("w").distinct()
    teu = tu.filter(is_test).select("w")
    b = teb.join(
        F.broadcast(trb.withColumn("hit", F.lit(1))), ["w1", "w2"], "left"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_bg"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("cov_bg"),
    )
    u = teu.join(
        F.broadcast(tru.withColumn("hit", F.lit(1))), ["w"], "left"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("cov_u"),
    )
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return b.crossJoin(u).select(
        F.col("n_u").alias("n_test_tokens"),
        F.col("cov_u").alias("covered_tokens"),
        fmt(F.col("cov_u").cast("double") / F.col("n_u")).alias(
            "unigram_coverage"
        ),
        F.col("n_bg").alias("n_test_bigrams"),
        F.col("cov_bg").alias("covered_bigrams"),
        fmt(F.col("cov_bg").cast("double") / F.col("n_bg")).alias(
            "bigram_coverage"
        ),
    )


# --- precision/recall@k retrieval evaluation ---------------------------------

def _pr_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    per = ", ".join(
        f"c{i} AS (SELECT doc_id, l{i}, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} DESC, doc_id) AS rn FROM tf WHERE r{i} >= 1 "
        f"QUALIFY rn <= {_MRR_K}), "
        f"a{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS k{i}, "
        f" CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END) "
        f"  AS BIGINT) AS hit{i} FROM c{i}), "
        f"g{i} AS (SELECT CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} "
        f" THEN 1 ELSE 0 END) AS BIGINT) AS rel{i} FROM tf)"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(
        f"a{i}, g{i}" for i in range(len(_MRR_QUERIES))
    )

    def row(i: int, name: str, k: str, hit: str, rel: str) -> str:
        return (
            f"SELECT '{name}' AS query, {k} AS n_retrieved, "
            f"{hit} AS n_hits, {rel} AS n_relevant, "
            f"printf('%.6f', ROUND(CAST({hit} AS DOUBLE) / {k}, 6)) "
            f" AS precision_k, "
            f"printf('%.6f', ROUND(CASE WHEN {rel} > 0 THEN "
            f" CAST({hit} AS DOUBLE) / {rel} ELSE CAST(0 AS DOUBLE) END, 6)) "
            f" AS recall_k, "
            f"printf('%.6f', ROUND(CAST(2 * {hit} AS DOUBLE) "
            f" / ({k} + {rel}), 6)) AS f1_k FROM {froms}"
        )

    rows = " UNION ALL ".join(
        row(i, f"{r}->{l}", f"k{i}", f"hit{i}", f"rel{i}")
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    n = len(_MRR_QUERIES)
    tot_k = " + ".join(f"k{i}" for i in range(n))
    tot_h = " + ".join(f"hit{i}" for i in range(n))
    tot_r = " + ".join(f"rel{i}" for i in range(n))
    allrow = row(0, "__all__", f"({tot_k})", f"({tot_h})", f"({tot_r})")
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} "
        f"SELECT * FROM ({rows} UNION ALL {allrow}) q"
    )


@register("retrieval_pr_at_k", _pr_sql())
def retrieval_pr_at_k(spark, sf):
    """Precision/recall/F1 at k=20 over the ``retrieval_mrr`` query
    set — the set-overlap retrieval metrics next to the rank-sensitive
    pair (MRR scores the FIRST hit, NDCG the whole gain profile; P/R@k
    answer the coverage question an eval harness reports first:
    how many of the relevant docs did the cut even contain?). Per
    query: retrieved = top-k docs by ranking-term tf (tie doc_id),
    relevant = docs with label-term tf >= the MRR relevance cut; the
    ``__all__`` row is the micro-average (pooled counts).

    Float discipline: retrieved/hit/relevant counts are exact
    integers; precision and recall are ONE IEEE division each, and F1
    uses the identity 2PR/(P+R) == 2*hits/(k + n_rel) so it is also
    ONE division of exact integers — no composed float chain at all.
    Zero-relevant queries report recall 0 by contract.

    Scale shape: identical to retrieval_mrr — one corpus pass to the
    checkpointed tf grain; per query a TakeOrderedAndProject top-k cut
    plus one corpus-grain conditional aggregate for the relevant
    count; single-row joins finish it."""
    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    parts = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_MRR_K)
        )
        a = cand.agg(
            F.count(F.lit(1)).cast("long").alias(f"k{i}"),
            F.sum(
                F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"hit{i}"),
        )
        g = tf.agg(
            F.sum(
                F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"rel{i}")
        )
        parts.append(a.crossJoin(g))
    one = parts[0]
    for p_i in parts[1:]:
        one = one.crossJoin(p_i)

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731

    def row(name, k, hit, rel):
        return F.struct(
            F.lit(name).alias("query"),
            k.alias("n_retrieved"),
            hit.alias("n_hits"),
            rel.alias("n_relevant"),
            fmt(hit.cast("double") / k).alias("precision_k"),
            fmt(
                F.when(rel > 0, hit.cast("double") / rel).otherwise(
                    F.lit(0).cast("double")
                )
            ).alias("recall_k"),
            fmt((2 * hit).cast("double") / (k + rel)).alias("f1_k"),
        )

    n = len(_MRR_QUERIES)
    rows = [
        row(
            f"{r}->{l}",
            F.col(f"k{i}"),
            F.col(f"hit{i}"),
            F.col(f"rel{i}"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ]
    sum_of = lambda pre: sum(  # noqa: E731
        (F.col(f"{pre}{i}") for i in range(1, n)), F.col(f"{pre}0")
    )
    rows.append(row("__all__", sum_of("k"), sum_of("hit"), sum_of("rel")))
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query",
        "q.n_retrieved",
        "q.n_hits",
        "q.n_relevant",
        "q.precision_k",
        "q.recall_k",
        "q.f1_k",
    )


# --- one-pass retrieval evaluation report ------------------------------------

def _retrieval_report_sql() -> str:
    """Compose the retrieval-eval family's oracles over ONE shared tf
    scan: per query the MRR first-rank/rr, the NDCG@10 of the same
    ranking's head, and P/R@20 — a green row pins the COMPOSITION of
    the three per-key contracts (the macro_graph_health discipline
    applied to the eval family)."""
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )

    def gain(i: int, rankcol: str) -> str:
        return " + ".join(
            f"CAST(COALESCE(MAX(CASE WHEN {rankcol} = {r} THEN rel END), 0) "
            f"AS DOUBLE) * {_NDCG_DISC[r - 1]}"
            for r in range(1, _NDCG_K + 1)
        )

    per = ", ".join(
        f"c{i} AS (SELECT doc_id, l{i}, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} DESC, doc_id) AS rn FROM tf WHERE r{i} >= 1 "
        f"QUALIFY rn <= {_MRR_K}), "
        f"f{i} AS (SELECT COALESCE(MIN(rn), 0) AS fr FROM c{i} "
        f" WHERE l{i} >= {_MRR_REL_TF}), "
        f"a{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS k{i}, "
        f" CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END) "
        f"  AS BIGINT) AS hit{i} FROM c{i}), "
        f"ci{i} AS (SELECT LEAST(l{i}, {_NDCG_RELCAP}) AS rel, rn, "
        f" ROW_NUMBER() OVER (ORDER BY LEAST(l{i}, {_NDCG_RELCAP}) DESC, rn) "
        f"  AS irn FROM c{i} WHERE rn <= {_NDCG_K}), "
        f"n{i} AS (SELECT ({gain(i, 'rn')}) AS dcg, "
        f" ({gain(i, 'irn')}) AS idcg FROM ci{i}), "
        f"g{i} AS (SELECT CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} "
        f" THEN 1 ELSE 0 END) AS BIGINT) AS rel{i} FROM tf)"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(
        f"f{i}, a{i}, n{i}, g{i}" for i in range(len(_MRR_QUERIES))
    )
    ndcg = (
        lambda i: f"(CASE WHEN n{i}.idcg > 0 "
        f"THEN n{i}.dcg / n{i}.idcg ELSE CAST(0 AS DOUBLE) END)"
    )
    rows = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, CAST(f{i}.fr AS BIGINT) AS first_rank, "
        f"printf('%.6f', ROUND(CASE WHEN f{i}.fr > 0 THEN "
        f" CAST(1 AS DOUBLE) / f{i}.fr ELSE CAST(0 AS DOUBLE) END, 6)) "
        f" AS rr, "
        f"printf('%.6f', ROUND({ndcg(i)}, 6)) AS ndcg, "
        f"printf('%.6f', ROUND(CAST(hit{i} AS DOUBLE) / k{i}, 6)) "
        f" AS precision_k, "
        f"printf('%.6f', ROUND(CASE WHEN rel{i} > 0 THEN "
        f" CAST(hit{i} AS DOUBLE) / rel{i} ELSE CAST(0 AS DOUBLE) END, 6)) "
        f" AS recall_k FROM {froms}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    n = len(_MRR_QUERIES)
    mrr_num = " + ".join(
        f"(CASE WHEN f{i}.fr > 0 THEN CAST({_MRR_L} AS DOUBLE) / f{i}.fr "
        f"ELSE CAST(0 AS DOUBLE) END)"
        for i in range(n)
    )
    mean_ndcg = " + ".join(ndcg(i) for i in range(n))
    tot_k = " + ".join(f"k{i}" for i in range(n))
    tot_h = " + ".join(f"hit{i}" for i in range(n))
    tot_r = " + ".join(f"rel{i}" for i in range(n))
    allrow = (
        f"SELECT '__all__', CAST(0 AS BIGINT), "
        f"printf('%.6f', ROUND(({mrr_num}) / CAST({n * _MRR_L} AS DOUBLE), "
        f" 6)), "
        f"printf('%.6f', ROUND(({mean_ndcg}) / CAST({n} AS DOUBLE), 6)), "
        f"printf('%.6f', ROUND(CAST(({tot_h}) AS DOUBLE) / ({tot_k}), 6)), "
        f"printf('%.6f', ROUND(CAST(({tot_h}) AS DOUBLE) / ({tot_r}), 6)) "
        f"FROM {froms}"
    )
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} "
        f"SELECT * FROM ({rows} UNION ALL {allrow}) q"
    )


@register("macro_retrieval_report", _retrieval_report_sql())
def macro_retrieval_report(spark, sf):
    """One-pass retrieval evaluation report — the per-release table a
    ranking team publishes, composing the eval family over ONE shared
    term-frequency scan: per query the MRR first-rank and reciprocal
    rank (``retrieval_mrr``'s contract), NDCG@10 of the same ranking's
    head (``retrieval_ndcg``'s inlined-discount contract), and
    precision/recall@20 (``retrieval_pr_at_k``'s exact-integer
    contract); the ``__all__`` row pools MRR, mean NDCG, and the
    micro-averaged P/R. A green oracle row pins the COMPOSITION of the
    three per-key float disciplines (the macro_graph_health rule
    applied to the eval family) — facts are scanned once for the whole
    report.

    Scale shape: ONE corpus pass to the checkpointed tf grain; per
    query a single TakeOrderedAndProject top-20 cut feeds the MRR,
    NDCG (its rn<=10 head), and P/R arms, plus one corpus-grain
    conditional aggregate for the relevant totals; single-row joins
    assemble the report."""
    return retrieval_report_rollup(
        query_tf_grain(_docs_par(spark, sf)).localCheckpoint()
    )


def query_tf_grain(d: DataFrame) -> DataFrame:
    """Per-doc (ranking-term tf, label-term tf) columns for the
    ``_MRR_QUERIES`` set — the shared grain of the retrieval-eval
    family and its streaming twin. Each doc's row is a pure function
    of its text (each document lands in exactly one micro-batch, so
    the streaming merge is a disjoint union)."""
    cols = _mrr_tf_cols()
    return d.select(*cols)


def retrieval_report_rollup(tf: DataFrame) -> DataFrame:
    """Fold the query-tf grain into the per-query + __all__ eval
    report — shared by ``macro_retrieval_report`` and its streaming
    twin (the MRR/NDCG/P-R float contracts live here; caller
    checkpoints the grain)."""
    from pyspark.sql.window import Window

    from ..caching import cached_exprs

    def _exprs():
        def gain(rankcol: str):
            out = None
            for r in range(1, _NDCG_K + 1):
                term = F.coalesce(
                    F.max(F.when(F.col(rankcol) == r, F.col("rel"))),
                    F.lit(0),
                ).cast("double") * F.lit(float(_NDCG_DISC[r - 1]))
                out = term if out is None else out + term
            return out

        return gain("rn"), gain("irn"), _report_rows()

    # the two 10-term DCG chains and the output structs are fixed
    # name-based Column trees — built once per process (cached_exprs,
    # the events_cramers_v finding); value-identical
    dcg_e, idcg_e, rows = cached_exprs("retrieval_report_rollup", _exprs)

    parts = []
    for i in range(len(_MRR_QUERIES)):
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_MRR_K)
            .select(f"l{i}", F.row_number().over(w).alias("rn"))
            .localCheckpoint()
        )
        # first-rank, cut size, and hit count share ONE aggregate over
        # the checkpointed 20-row cut (fr as a conditional MIN — same
        # rows, same exact integer as the old filtered-then-MIN job)
        a = cand.agg(
            F.coalesce(
                F.min(
                    F.when(F.col(f"l{i}") >= _MRR_REL_TF, F.col("rn"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"fr{i}"),
            F.count(F.lit(1)).cast("long").alias(f"k{i}"),
            F.sum(F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0))
            .cast("long")
            .alias(f"hit{i}"),
        )
        ci = cand.filter(F.col("rn") <= _NDCG_K).select(
            F.least(F.col(f"l{i}"), F.lit(_NDCG_RELCAP))
            .cast("long")
            .alias("rel"),
            "rn",
        )
        wi = Window.orderBy(F.desc("rel"), F.asc("rn"))
        ci = ci.select("rel", "rn", F.row_number().over(wi).alias("irn"))
        nd = ci.agg(dcg_e.alias(f"dcg{i}"), idcg_e.alias(f"idcg{i}"))
        g = tf.agg(
            F.sum(F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0))
            .cast("long")
            .alias(f"rel{i}")
        )
        parts.append(a.crossJoin(nd).crossJoin(g))
    one = parts[0]
    for p_i in parts[1:]:
        one = one.crossJoin(p_i)
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query",
        "q.first_rank",
        "q.rr",
        "q.ndcg",
        "q.precision_k",
        "q.recall_k",
    )


def _report_rows():
    """The per-query + __all__ output structs of the retrieval report
    (pure name-based Column trees, cached by the rollup)."""
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    zero = F.lit(0).cast("double")

    def rr(i: int):
        frc = F.col(f"fr{i}")
        return F.when(frc > 0, F.lit(1).cast("double") / frc).otherwise(zero)

    def ndcg(i: int):
        return F.when(
            F.col(f"idcg{i}") > 0, F.col(f"dcg{i}") / F.col(f"idcg{i}")
        ).otherwise(zero)

    n = len(_MRR_QUERIES)
    mrr_num = None
    for i in range(n):
        frc = F.col(f"fr{i}")
        t = F.when(
            frc > 0, F.lit(_MRR_L).cast("double") / frc
        ).otherwise(zero)
        mrr_num = t if mrr_num is None else mrr_num + t
    mean_ndcg = None
    for i in range(n):
        mean_ndcg = ndcg(i) if mean_ndcg is None else mean_ndcg + ndcg(i)
    sum_of = lambda pre: sum(  # noqa: E731
        (F.col(f"{pre}{i}") for i in range(1, n)), F.col(f"{pre}0")
    )
    rows = [
        F.struct(
            F.lit(f"{r}->{l}").alias("query"),
            F.col(f"fr{i}").alias("first_rank"),
            fmt(rr(i)).alias("rr"),
            fmt(ndcg(i)).alias("ndcg"),
            fmt(F.col(f"hit{i}").cast("double") / F.col(f"k{i}")).alias(
                "precision_k"
            ),
            fmt(
                F.when(
                    F.col(f"rel{i}") > 0,
                    F.col(f"hit{i}").cast("double") / F.col(f"rel{i}"),
                ).otherwise(zero)
            ).alias("recall_k"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ] + [
        F.struct(
            F.lit("__all__").alias("query"),
            F.lit(0).cast("long").alias("first_rank"),
            fmt(mrr_num / F.lit(n * _MRR_L).cast("double")).alias("rr"),
            fmt(mean_ndcg / F.lit(n).cast("double")).alias("ndcg"),
            fmt(
                sum_of("hit").cast("double") / sum_of("k")
            ).alias("precision_k"),
            fmt(
                sum_of("hit").cast("double") / sum_of("rel")
            ).alias("recall_k"),
        )
    ]
    return rows


# --- ERR retrieval evaluation ------------------------------------------------

_ERR_K = 10
# graded relevance -> stopping probability (2^g - 1) / 2^gmax for
# g = LEAST(label tf, 4), gmax = 4: every value is an exactly-
# representable dyadic literal, so no pow()/log() ever enters the
# contract (the retrieval_ndcg constant-folding discipline, here with
# the constants exact by construction rather than merely bit-pinned).
_ERR_PROBS = ("0", "0.0625", "0.1875", "0.4375", "0.9375")


def _err_prob_case(relexpr: str) -> str:
    """CASE mapping a 0..4 graded relevance to its dyadic stopping
    probability — identical grammar in Spark SQL and DuckDB, so BOTH
    engines evaluate the same textual expression."""
    whens = " ".join(
        f"WHEN {g} THEN CAST({p} AS DOUBLE)"
        for g, p in enumerate(_ERR_PROBS)
    )
    return f"(CASE {relexpr} {whens} ELSE CAST(0.9375 AS DOUBLE) END)"


def _err_chain(pcol) -> str:
    """The ERR@k cascade as ONE fixed textual expression over rank
    columns p1..pk (stopping probabilities): term_r = (p_r * prod_{i<r}
    (1 - p_i)) / r, summed left-associated. The survival product is
    textually re-expanded per term (IEEE ops are pure — recomputation
    beats introducing engine-specific intermediates), and each 1/r is
    ONE division by an exact integer cast. Valid Spark SQL AND DuckDB."""
    terms = []
    prod = "CAST(1 AS DOUBLE)"
    for r in range(1, _ERR_K + 1):
        terms.append(f"(({pcol(r)} * {prod}) / CAST({r} AS DOUBLE))")
        prod = f"({prod} * (CAST(1 AS DOUBLE) - {pcol(r)}))"
    return " + ".join(terms)


def _err_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    pcols = ", ".join(
        _err_prob_case(
            f"COALESCE(MAX(CASE WHEN rn = {r} THEN rel END), 0)"
        )
        + f" AS p{r}"
        for r in range(1, _ERR_K + 1)
    )
    cands = ", ".join(
        f"c{i} AS (SELECT doc_id, LEAST(l{i}, 4) AS rel, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1 QUALIFY rn <= {_ERR_K}), "
        f"g{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n{i}, {pcols} "
        f"FROM c{i}), "
        f"a{i} AS (SELECT n{i}, ({_err_chain(lambda r: f'p{r}')}) "
        f"AS err{i} FROM g{i})"
        for i in range(len(_MRR_QUERIES))
    )
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, a{i}.n{i} AS n_cand, "
        f"printf('%.6f', ROUND(a{i}.err{i}, 6)) AS err FROM {froms}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for froms in (", ".join(f"a{j}" for j in range(len(_MRR_QUERIES))),)
    )
    mean = " + ".join(f"a{i}.err{i}" for i in range(len(_MRR_QUERIES)))
    froms = ", ".join(f"a{i}" for i in range(len(_MRR_QUERIES)))
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, n_cand, err FROM ({per_q} UNION ALL "
        f"SELECT '__all__', CAST(0 AS BIGINT), "
        f"printf('%.6f', ROUND(({mean}) / CAST(3 AS DOUBLE), 6)) "
        f"FROM {froms}) q"
    )


@register("retrieval_err", _err_sql())
def retrieval_err(spark, sf):
    """Expected Reciprocal Rank (ERR@10) over the ``retrieval_mrr``
    query set — the cascade-model metric (Chapelle et al., CIKM 2009)
    ranking teams report next to NDCG: a user scans down the list and
    stops at rank r with probability p_r = (2^g - 1)/2^gmax; ERR is the
    expected reciprocal of the stopping rank, so (unlike NDCG's
    independent-gain sum) a strong early hit SHADOWS everything below
    it. Gains are the NDCG key's capped label-term tf (0..4).

    Float discipline: every stopping probability is an exactly-
    representable DYADIC literal ((2^g-1)/16 for g <= 4 — no pow, no
    log); the cascade is ONE fixed textual expression (built by
    ``_err_chain``) evaluated by BOTH engines — Spark runs the same
    string through F.expr that DuckDB runs inline, so the op sequence
    is identical token-for-token; each term is one IEEE division by an
    exact integer cast, summed left-associated; the mean is a fixed
    three-term chain plus one division.

    Scale shape: identical to retrieval_ndcg — ONE corpus pass builds
    the checkpointed per-doc tf grain, each query's cut is a
    TakeOrderedAndProject top-10, the probability mapping and cascade
    run over a 1-row aggregate."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    aggs = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_ERR_K)
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        ranked = cand.select(
            F.least(F.col(f"l{i}"), F.lit(4)).cast("long").alias("rel"),
            F.row_number().over(w).alias("rn"),
        )
        g = ranked.agg(
            F.count(F.lit(1)).cast("long").alias(f"n{i}"),
            *[
                F.expr(
                    _err_prob_case(
                        f"COALESCE(MAX(CASE WHEN rn = {r} THEN rel END), 0)"
                    )
                ).alias(f"p{r}")
                for r in range(1, _ERR_K + 1)
            ],
        )
        aggs.append(
            g.select(
                f"n{i}",
                F.expr(_err_chain(lambda r: f"p{r}")).alias(f"err{i}"),
            )
        )
    one = aggs[0]
    for a_i in aggs[1:]:
        one = one.crossJoin(a_i)
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    per_q = [
        one.select(
            F.lit(f"{r}->{l}").alias("query"),
            F.col(f"n{i}").alias("n_cand"),
            fmt6(F.col(f"err{i}")).alias("err"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ]
    mean = None
    for i in range(len(_MRR_QUERIES)):
        mean = (
            F.col(f"err{i}")
            if mean is None
            else mean + F.col(f"err{i}")
        )
    allrow = one.select(
        F.lit("__all__").alias("query"),
        F.lit(0).cast("long").alias("n_cand"),
        fmt6(mean / F.lit(3).cast("double")).alias("err"),
    )
    out = per_q[0]
    for p in per_q[1:] + [allrow]:
        out = out.unionAll(p)
    return out


# --- Cohen's kappa inter-rater agreement ------------------------------------

@register(
    "eval_cohen_kappa",
    # Cohen's kappa between two deterministic binary quality raters
    # (char-length gate vs token-count gate): kappa = (po - pe)/(1 - pe)
    # multiplied through by n^2 so it collapses to ONE IEEE division of
    # exact BIGINTs — (n*agree - E) / (n^2 - E) with
    # E = a1*b1 + a0*b0 the chance-agreement cross product.
    "WITH f AS (SELECT "
    " CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra, "
    " CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END AS rb "
    " FROM documents), "
    "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    " CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n11, "
    " CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n00, "
    " CAST(SUM(ra) AS BIGINT) AS a1, CAST(SUM(rb) AS BIGINT) AS b1 FROM f) "
    "SELECT n AS n_docs, n11 + n00 AS n_agree, a1 AS pos_a, b1 AS pos_b, "
    "printf('%.6f', ROUND("
    " CAST(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE) "
    " / CAST(n * n - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE), 6)) "
    " AS kappa "
    "FROM m WHERE n * n > a1 * b1 + (n - a1) * (n - b1)",
)
def eval_cohen_kappa(spark, sf):
    """Cohen's kappa agreement between two deterministic binary quality
    raters — rater A gates on raw character length (n_chars >= 300),
    rater B on whitespace token count (>= 55 words). This is the
    chance-corrected agreement readout every labeling pipeline computes
    before trusting a cheap heuristic as a stand-in for an expensive
    one (raw agreement is inflated whenever both raters mostly say
    'yes'; kappa subtracts the agreement their marginals would produce
    by chance).

    Float discipline: kappa = (po - pe)/(1 - pe) is multiplied through
    by n^2, collapsing to (n*agree - E)/(n^2 - E) with E = a1*b1 +
    (n-a1)*(n-b1) — every term an exact BIGINT (at 100 TB the cross
    products move to DECIMAL(38,0)), so kappa is ONE correctly-rounded
    IEEE division under ROUND + %.6f. The degenerate pe = 1 corpus
    (both raters constant) is filtered by an exact integer guard on
    both engines.

    Scale shape: ONE map-side-combinable conditional-aggregation scan
    collapses the corpus straight to a 5-integer row — no shuffle wider
    than the aggregate state, the events_chi2 shape over documents."""
    f = _docs(spark, sf).select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("ra"),
        F.when(F.size(F.split("text", " ")) >= 55, 1)
        .otherwise(0)
        .alias("rb"),
    )
    m = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n11"),
        F.sum(
            F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n00"),
        F.sum("ra").cast("long").alias("a1"),
        F.sum("rb").cast("long").alias("b1"),
    )
    n, n11, n00 = F.col("n"), F.col("n11"), F.col("n00")
    a1, b1 = F.col("a1"), F.col("b1")
    e = a1 * b1 + (n - a1) * (n - b1)
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return m.filter(n * n > e).select(
        n.alias("n_docs"),
        (n11 + n00).alias("n_agree"),
        a1.alias("pos_a"),
        b1.alias("pos_b"),
        fmt6(
            (n * (n11 + n00) - e).cast("double")
            / (n * n - e).cast("double")
        ).alias("kappa"),
    )


# --- readability profile ------------------------------------------------


@register(
    "text_readability",
    # Per-source readability profile: Flesch reading ease and Gunning
    # fog over POOLED exact counts (words, pseudo-sentences of 12 words,
    # vowel-run syllables, >=3-run complex words) — never a per-doc
    # float averaged (an unordered double SUM); the non-dyadic formula
    # constants parse to bit-identical doubles on both engines
    # (correctly-rounded literal conversion, probed: 206.835 / 1.015 /
    # 84.6 / 0.4 / 100.0 all round-trip).
    "WITH d AS (SELECT source, "
    " CAST(len(string_split(text, ' ')) AS BIGINT) AS w, "
    " CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS sy, "
    " CAST(len(list_filter(string_split(text, ' '), "
    "  x -> len(regexp_extract_all(x, '[aeiou]+')) >= 3)) AS BIGINT) AS cw "
    " FROM documents), "
    "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    " CAST(SUM(w) AS BIGINT) AS words, "
    " CAST(SUM((w + 11) // 12) AS BIGINT) AS sentences, "
    " CAST(SUM(sy) AS BIGINT) AS syllables, "
    " CAST(SUM(cw) AS BIGINT) AS complex_words FROM d GROUP BY source) "
    "SELECT source, n_docs, words, sentences, syllables, complex_words, "
    "printf('%.6f', ROUND(CAST(206.835 AS DOUBLE) "
    " - CAST(1.015 AS DOUBLE) "
    "  * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)) "
    " - CAST(84.6 AS DOUBLE) "
    "  * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)), 6)) "
    " AS flesch, "
    "printf('%.6f', ROUND(CAST(0.4 AS DOUBLE) "
    " * ((CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)) "
    "  + CAST(100.0 AS DOUBLE) "
    "   * (CAST(complex_words AS DOUBLE) / CAST(words AS DOUBLE))), 6)) "
    " AS fog "
    "FROM g WHERE words > 0 AND sentences > 0",
)
def text_readability(spark, sf):
    """Per-source readability profile — Flesch reading ease and Gunning
    fog index, the two classic complexity scores a corpus-curation
    pipeline uses to bucket sources by audience level (and a quality
    gate next to ``text_quality``'s ratio score: readability shifts
    catch machine-generated or boilerplate sources whose length ratios
    look normal). The corpus has no sentence punctuation, so sentences
    are the quality_line_filter pseudo-unit (12-word chunks — ceil via
    (w + 11) div 12, exact); syllables are maximal vowel runs; complex
    words have >= 3 vowel runs (the classic >= 3-syllable rule). All
    heuristic contracts are documented, deterministic, and spelled
    identically on both engines.

    Float discipline: per-source counts pool as exact BIGINTs FIRST
    (never averaging per-doc floats — that would be an unordered
    double SUM); each score is then a FIXED IEEE chain over two exact
    divisions and literal constants that parse to bit-identical doubles
    on both engines (probed: all five constants round-trip through
    DuckDB's decimal-literal -> double conversion).

    Scale shape: ONE corpus pass computes the three per-doc integer
    counts JVM-side (split + regexp_count — no Python), then one
    map-side-combinable aggregation onto the tiny source dimension."""
    g = readability_counts(_docs_par(spark, sf), keys=["source"])
    return readability_rollup(g, keys=["source"])


def readability_counts(d, keys: list) -> "DataFrame":
    """Pooled exact readability counts (n_docs, words, sentences,
    syllables, complex_words) grouped by ``keys`` (possibly empty for a
    corpus-wide row) — the shared grain for ``text_readability`` and
    its streaming twin (all plain SUMs: exactly mergeable across
    micro-batches)."""
    words = F.split(F.col("text"), " ")
    per_doc = d.select(
        *keys,
        F.size(words).cast("long").alias("w"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+"))
        .cast("long")
        .alias("sy"),
        F.size(
            F.filter(
                words,
                lambda x: F.regexp_count(x, F.lit("[aeiou]+")) >= F.lit(3),
            )
        )
        .cast("long")
        .alias("cw"),
    )
    grouped = per_doc.groupBy(*keys) if keys else per_doc.groupBy()
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum(F.expr("(w + 11) div 12")).cast("long").alias("sentences"),
        F.sum("sy").cast("long").alias("syllables"),
        F.sum("cw").cast("long").alias("complex_words"),
    )


def readability_rollup(g, keys: list) -> "DataFrame":
    """Apply the fixed Flesch/fog chains to a pooled-counts table —
    shared by ``text_readability`` and its streaming twin (the
    pooled-ints-then-one-chain float contract lives here)."""
    wd = F.col("words").cast("double")
    sd = F.col("sentences").cast("double")
    syd = F.col("syllables").cast("double")
    cwd = F.col("complex_words").cast("double")
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return g.filter((F.col("words") > 0) & (F.col("sentences") > 0)).select(
        *keys,
        "n_docs",
        "words",
        "sentences",
        "syllables",
        "complex_words",
        fmt6(
            F.lit(206.835)
            - F.lit(1.015) * (wd / sd)
            - F.lit(84.6) * (syd / wd)
        ).alias("flesch"),
        fmt6(F.lit(0.4) * ((wd / sd) + F.lit(100.0) * (cwd / wd))).alias(
            "fog"
        ),
    )


# --- temperature-scaled domain mixture ----------------------------------

@register(
    "mix_temperature",
    # Temperature-scaled domain-mixture weights (alpha = 1/2 — the
    # multilingual-sampling temperature rule w_i ∝ n_i^alpha): each
    # source's sqrt(token count) over the fixed-order sum of all
    # sources' sqrts. sqrt is the IEEE-pinned transcendental; the
    # denominator folds in SOURCE-NAME order on both engines so the
    # float sum is bit-identical.
    "WITH s AS (SELECT source, "
    " CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n "
    " FROM documents GROUP BY source), "
    "d AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    " list(SQRT(CAST(n AS DOUBLE)) ORDER BY source)), "
    " (a, x) -> a + x) AS den FROM s) "
    "SELECT source, n AS n_words, "
    "printf('%.6f', ROUND(SQRT(CAST(n AS DOUBLE)) / den, 6)) AS weight "
    "FROM s, d",
)
def mix_temperature(spark, sf):
    """Temperature-scaled domain-mixture weights (alpha = 1/2) — the
    sampling rule multilingual/multi-domain training actually uses
    (raw proportional sampling lets the biggest source drown the tail;
    w_i ∝ n_i^alpha with alpha < 1 upsamples small domains — the
    XLM-R/mT5 recipe). The static complement of ``mix_weights``' raw
    shares: same grain, the exponent applied.

    Float discipline: alpha = 1/2 makes every numerator ONE
    correctly-rounded sqrt of an exact BIGINT (the one transcendental
    IEEE-754 pins — the events_spearman rule; no pow/exp/log ever
    runs); the denominator is an order-sensitive float sum, so both
    engines fold it in the SAME fixed order — source-name ascending,
    left-associated, init exact 0.0 (Spark: ``aggregate(sort_array)``;
    oracle: ``list_reduce`` over the 0-prepended ordered list — the
    kg_resource_allocation contract); each weight is one further IEEE
    division under ROUND + %.6f.

    Scale shape: one map-side-combinable fact collapse onto the tiny
    source dimension; the fold and broadcast are dimension-sized."""
    s = _docs(spark, sf).groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n")
    )
    den_df = s.agg(
        F.sort_array(F.collect_list(F.struct("source", "n"))).alias("a")
    ).select(
        F.expr(
            "aggregate(a, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + SQRT(CAST(x.n AS DOUBLE)))"
        ).alias("den")
    )
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return s.crossJoin(F.broadcast(den_df)).select(
        "source",
        F.col("n").alias("n_words"),
        fmt6(F.sqrt(F.col("n").cast("double")) / F.col("den")).alias(
            "weight"
        ),
    )


# --- one-row dedup health report -----------------------------------------

@register(
    "macro_dedup_report",
    # One-row corpus dedup profile composing three family contracts
    # over their SHARED grains: exact-dup redundancy (md5 groups), the
    # pooled C4 line-dedup ratio (the dedup_lines marks summed), and
    # high-containment quote pairs (cont_a >= 0.8 decided by the exact
    # cross-multiply inter*5 >= na*4 — no float threshold).
    f"WITH d AS (SELECT doc_id, string_split(text, ' ') AS w "
    " FROM documents), "
    "ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
    " CAST(COUNT(DISTINCT MD5(array_to_string(w, ' '))) AS BIGINT) "
    "  AS n_distinct FROM d), "
    "c AS (SELECT doc_id, unnest(generate_series(0, "
    f" CAST(CEIL(LEN(w) / {_LINE_WORDS}.0) AS INT) - 1)) AS ci, w FROM d), "
    f"lines AS (SELECT doc_id, ci, array_to_string(list_slice(w, "
    f" ci * {_LINE_WORDS} + 1, (ci + 1) * {_LINE_WORDS}), ' ') AS line "
    " FROM c), "
    "f1 AS (SELECT line, MIN(doc_id) AS fdoc FROM lines GROUP BY line), "
    "f2 AS (SELECT l.line, f1.fdoc, MIN(l.ci) AS fci FROM lines l "
    " JOIN f1 ON f1.line = l.line AND l.doc_id = f1.fdoc GROUP BY 1, 2), "
    "lm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, "
    " CAST(SUM(CASE WHEN l.doc_id = f2.fdoc AND l.ci = f2.fci "
    "  THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_lines "
    " FROM lines l JOIN f2 ON f2.line = l.line), "
    "q AS (SELECT CAST(COALESCE(SUM(CASE WHEN "
    "  LEN(list_intersect(a.wd, b.wd)) * 5 >= LEN(a.wd) * 4 "
    "  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_quote_pairs FROM "
    " (SELECT doc_id, source, list_distinct(w) AS wd FROM d "
    "  JOIN documents USING (doc_id)) a "
    " JOIN (SELECT doc_id, source, list_distinct(w) AS wd FROM d "
    "  JOIN documents USING (doc_id)) b "
    " ON a.source = b.source AND b.doc_id = a.doc_id + 20) "
    "SELECT ex.n_docs, ex.n_docs - ex.n_distinct AS n_exact_redundant, "
    "lm.n_lines, lm.n_dup_lines, "
    "printf('%.6f', ROUND(CAST(lm.n_dup_lines AS DOUBLE) / lm.n_lines, "
    " 6)) AS dup_line_ratio, "
    "q.n_quote_pairs "
    "FROM ex, lm, q",
)
def macro_dedup_report(spark, sf):
    """One-row corpus dedup health report — the profile a data-curation
    run publishes before choosing its dedup budget, composing three
    family contracts over their SHARED stage definitions in one pass:
    exact-document redundancy (``dedup_exact``'s md5 groups), the
    pooled C4 line-dedup ratio (``dedup_lines``' marks summed corpus-
    wide via the shared ``doc_lines``/``line_dup_marks`` helpers), and
    high-containment quote pairs (``dedup_containment``'s bounded
    pairing at cont_a >= 0.8). Green here pins the COMPOSITION — the
    same reason macro_series_profile and macro_retrieval_report exist.

    Float discipline: everything is exact integers except the one
    pooled line ratio (ONE division under ROUND + %.6f); the 0.8
    containment threshold is decided by the exact cross-multiply
    inter*5 >= na*4, so no float ever gates a count.

    Scale shape: three independent map-side-combinable collapses over
    one corpus scan family (exact: hash agg onto md5 groups; lines:
    the dedup_lines shape pooled to one row; quotes: the bounded
    one-partner-per-doc pairing), crossJoined as 1-row aggregates."""
    d = _docs_par(spark, sf)
    ex = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.md5("text")).cast("long").alias("n_distinct"),
    ).select(
        "n_docs",
        (F.col("n_docs") - F.col("n_distinct")).alias("n_exact_redundant"),
    )
    lm = line_dup_marks(doc_lines(d)).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("is_dup").cast("long").alias("n_dup_lines"),
    )
    wd = d.select(
        "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("wd")
    )
    b = wd.select(
        F.col("source").alias("b_source"),
        (F.col("doc_id") - 20).alias("a_id"),
        F.col("wd").alias("b_wd"),
    )
    q = (
        wd.join(
            b,
            (F.col("source") == F.col("b_source"))
            & (F.col("doc_id") == F.col("a_id")),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.size(F.array_intersect("wd", "b_wd")) * 5
                        >= F.size("wd") * 4,
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_quote_pairs")
        )
    )
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return (
        ex.crossJoin(lm)
        .crossJoin(q)
        .select(
            "n_docs",
            "n_exact_redundant",
            "n_lines",
            "n_dup_lines",
            fmt6(
                F.col("n_dup_lines").cast("double") / F.col("n_lines")
            ).alias("dup_line_ratio"),
            "n_quote_pairs",
        )
    )


# --- recall curve -------------------------------------------------------

_RECALL_KS = (1, 5, 10, 20)


def _recall_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    cands = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, rn, "
        f"CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END AS rel "
        f"FROM (SELECT l{i}, ROW_NUMBER() OVER (ORDER BY r{i} DESC, "
        f"doc_id) AS rn FROM tf WHERE r{i} >= 1) s WHERE rn <= {_MRR_K}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    rels = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, CAST(SUM(CASE WHEN l{i} >= "
        f"{_MRR_REL_TF} THEN 1 ELSE 0 END) AS BIGINT) AS n_rel FROM tf"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    ks = ", ".join(str(k) for k in _RECALL_KS)
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), "
        f"c AS ({cands}), r AS ({rels}), "
        f"ks AS (SELECT unnest([{ks}]) AS k), "
        f"h AS (SELECT query, k, CAST(SUM(CASE WHEN rn <= k AND rel = 1 "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS n_hits FROM c, ks "
        f"GROUP BY query, k), "
        f"j AS (SELECT h.query, h.k, h.n_hits, r.n_rel FROM h "
        f"JOIN r USING (query)) "
        f"SELECT query, CAST(k AS BIGINT) AS k, n_hits, "
        f"n_rel AS n_relevant, "
        f"printf('%.6f', ROUND(CASE WHEN n_rel > 0 THEN "
        f"CAST(n_hits AS DOUBLE) / n_rel ELSE CAST(0 AS DOUBLE) END, 6)) "
        f"AS recall FROM j "
        f"UNION ALL "
        f"SELECT '__all__', CAST(k AS BIGINT), "
        f"CAST(SUM(n_hits) AS BIGINT), CAST(SUM(n_rel) AS BIGINT), "
        f"printf('%.6f', ROUND(CAST(SUM(n_hits) AS DOUBLE) / SUM(n_rel), "
        f"6)) FROM j GROUP BY k"
    )


@register("retrieval_recall_at_k", _recall_sql())
def retrieval_recall_at_k(spark, sf):
    """Recall curve — recall@k for k in (1, 5, 10, 20) per query plus
    the pooled micro-average per k (the '__all__' rows): the candidate-
    generation sizing chart every retrieval stack plots when choosing
    its re-ranker depth (``retrieval_pr_at_k`` reports ONE operating
    point; the curve shows where recall saturates, which is what
    decides k). Same query set, ranking, and relevance cut as the rest
    of the eval family.

    Float discipline: hit and relevant counts are exact integers; each
    recall is ONE IEEE division under ROUND + %.6f (the micro-average
    divides pooled exact sums — never a mean of floats); zero-relevant
    queries report 0 by the pr_at_k contract.

    Scale shape: one corpus pass to the checkpointed tf grain, one
    top-20 cut per query (TakeOrderedAndProject), then every (query, k)
    cell aggregates over the <= 20-row candidate slice crossed with the
    4-row k dimension — dimension-sized end to end."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    cands, rels = [], []
    for i, (r, l) in enumerate(_MRR_QUERIES):
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        cands.append(
            tf.filter(F.col(f"r{i}") >= 1)
            .select(
                F.lit(f"{r}->{l}").alias("query"),
                F.row_number().over(w).alias("rn"),
                F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1)
                .otherwise(0)
                .alias("rel"),
            )
            .filter(F.col("rn") <= _MRR_K)
        )
        rels.append(
            tf.agg(
                F.sum(
                    F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0)
                )
                .cast("long")
                .alias("n_rel")
            ).select(F.lit(f"{r}->{l}").alias("query"), "n_rel")
        )
    c = cands[0]
    for x in cands[1:]:
        c = c.unionAll(x)
    rl = rels[0]
    for x in rels[1:]:
        rl = rl.unionAll(x)
    ks = spark.createDataFrame(
        [(k,) for k in _RECALL_KS], "k long"
    )
    h = (
        c.crossJoin(F.broadcast(ks))
        .groupBy("query", "k")
        .agg(
            F.sum(
                F.when((F.col("rn") <= F.col("k")) & (F.col("rel") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
    )
    j = h.join(rl, "query").localCheckpoint()
    fmt6 = lambda x: F.format_string("%.6f", F.round(x, 6))  # noqa: E731
    per_q = j.select(
        "query",
        "k",
        "n_hits",
        F.col("n_rel").alias("n_relevant"),
        fmt6(
            F.when(
                F.col("n_rel") > 0,
                F.col("n_hits").cast("double") / F.col("n_rel"),
            ).otherwise(F.lit(0.0))
        ).alias("recall"),
    )
    pooled = j.groupBy("k").agg(
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.sum("n_rel").cast("long").alias("n_relevant"),
    ).select(
        F.lit("__all__").alias("query"),
        "k",
        "n_hits",
        "n_relevant",
        fmt6(
            F.col("n_hits").cast("double") / F.col("n_relevant")
        ).alias("recall"),
    )
    return per_q.unionAll(pooled)


# --- Zipf profile ---------------------------------------------------------

@register(
    "lm_zipf_profile",
    # Zipf's-law head profile: the top-20 corpus words with rank,
    # frequency, and the rank*frequency product (constant under an
    # ideal Zipf fit) — all exact integers, no log-log regression, so
    # libm never enters.
    "WITH w AS (SELECT unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM w "
    " WHERE word <> '' GROUP BY word), "
    "r AS (SELECT word, freq, CAST(ROW_NUMBER() OVER (ORDER BY freq "
    " DESC, word) AS BIGINT) AS rank FROM f QUALIFY rank <= 20) "
    "SELECT rank, word, freq, rank * freq AS rf FROM r",
)
def lm_zipf_profile(spark, sf):
    """Zipf's-law head profile — the top-20 vocabulary with each word's
    rank, frequency, and rank*frequency product. Under Zipf's law
    r*f is roughly constant, so this 20-row table IS the corpus's
    lexical-naturalness fingerprint (machine-generated or templated
    corpora show a flat head; the check every corpus intake runs next
    to ``corpus_length_dist``), and it reads without fitting a log-log
    slope — keeping libm out entirely (the retrieval_mrr rationale).

    All exact integers; tie-break word-ascending so the ranking is
    total on both engines.

    Scale shape: one fact-scale explode + map-side-combinable word
    count (Zipf makes the distinct-word table sublinear), one
    TakeOrderedAndProject top-20, one 20-row rank window."""
    from pyspark.sql.window import Window

    f = (
        _docs(spark, sf)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = f.orderBy(F.desc("freq"), F.asc("word")).limit(20)
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "word", "freq", (F.col("rank") * F.col("freq")).alias("rf"))
    )


# --- one-row corpus text report -------------------------------------------

@register(
    "macro_text_report",
    # One-row corpus text profile composing the text family's shared
    # contracts: exact doc/word/vocab counts, the language mix, the
    # pooled stopword ratio, and the corpus-level Flesch score (the
    # text_readability pooled-ints-then-one-chain discipline applied
    # corpus-wide).
    f"WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
    " CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words, "
    " CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_en, "
    f" CAST(SUM((len(string_split(text, ' ')) + 11) // 12) AS BIGINT) "
    "  AS n_sentences, "
    " CAST(SUM(len(regexp_extract_all(text, '[aeiou]+'))) AS BIGINT) "
    "  AS n_syllables, "
    f" CAST(SUM(len(list_filter(string_split(text, ' '), "
    f"  x -> x IN ({_SW_SQL})))) AS BIGINT) AS n_stop "
    " FROM documents), "
    "v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS vocab_size "
    " FROM (SELECT unnest(string_split(text, ' ')) AS word "
    "  FROM documents) u WHERE word <> '') "
    "SELECT n_docs, n_words, vocab_size, "
    "printf('%.6f', ROUND(CAST(n_en AS DOUBLE) / n_docs, 6)) AS pct_en, "
    "printf('%.6f', ROUND(CAST(n_stop AS DOUBLE) / n_words, 6)) "
    " AS stopword_ratio, "
    "printf('%.6f', ROUND(CAST(206.835 AS DOUBLE) "
    " - CAST(1.015 AS DOUBLE) "
    "  * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) "
    " - CAST(84.6 AS DOUBLE) "
    "  * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)) "
    " AS flesch "
    "FROM base, v WHERE n_words > 0 AND n_sentences > 0",
)
def macro_text_report(spark, sf):
    """One-row corpus text health report — the intake profile a
    curation run publishes before any gating decision, composing the
    text family's shared contracts in one pass: exact document/word/
    vocabulary counts, the language mix share, the pooled stopword
    ratio (``text_quality``'s signal corpus-wide), and the corpus-level
    Flesch score (``text_readability``'s pooled-exact-counts-then-one-
    fixed-chain discipline applied to the whole corpus). Green here
    pins the text-family COMPOSITION, the macro_dedup_report rationale.

    Float discipline: every count pools as an exact BIGINT; each ratio
    is ONE IEEE division and the Flesch score one fixed literal chain
    (constants probed bit-identical across engines) — never a mean of
    per-doc floats.

    Scale shape: ONE corpus scan collapses to a 6-integer row
    (map-side combinable) plus one explode + distinct for the
    vocabulary (Zipf-sublinear) — two jobs, both aggregate-state
    narrow."""
    d = _docs_par(spark, sf)
    words = F.split(F.col("text"), " ")
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(words)).cast("long").alias("n_words"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
        F.sum(F.expr("(size(split(text, ' ')) + 11) div 12"))
        .cast("long")
        .alias("n_sentences"),
        F.sum(F.regexp_count(F.col("text"), F.lit("[aeiou]+")))
        .cast("long")
        .alias("n_syllables"),
        F.sum(
            F.size(
                F.filter(
                    words, lambda x: x.isin(*_STOPWORDS)
                )
            )
        )
        .cast("long")
        .alias("n_stop"),
    )
    v = (
        d.select(F.explode(words).alias("word"))
        .filter(F.col("word") != "")
        .agg(F.count_distinct("word").cast("long").alias("vocab_size"))
    )
    fmt6 = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    wd = F.col("n_words").cast("double")
    return (
        base.crossJoin(F.broadcast(v))
        .filter((F.col("n_words") > 0) & (F.col("n_sentences") > 0))
        .select(
            "n_docs",
            "n_words",
            "vocab_size",
            fmt6(F.col("n_en").cast("double") / F.col("n_docs")).alias(
                "pct_en"
            ),
            fmt6(F.col("n_stop").cast("double") / F.col("n_words")).alias(
                "stopword_ratio"
            ),
            fmt6(
                F.lit(206.835)
                - F.lit(1.015)
                * (wd / F.col("n_sentences").cast("double"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / wd)
            ).alias("flesch"),
        )
    )


# --- Heaps' law vocabulary-growth profile ---------------------------------

@register(
    "lm_heaps_profile",
    # Heaps'-law vocabulary growth at ten doc-count milestones: tokens
    # and cumulative vocabulary when the first m*N/10 documents (by the
    # fixture's dense doc_id order — the scan_row_index contract) have
    # been ingested. Vocabulary at a cutoff counts the words whose
    # FIRST carrier doc precedes it — two keyed aggregations, never a
    # running-distinct window. All exact integers.
    "WITH ms AS (SELECT unnest(generate_series(1, 10)) AS m), "
    "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents), "
    "cut AS (SELECT m, (m * nd) // 10 AS cutoff FROM ms, t), "
    "dtok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) "
    " AS ntok FROM documents), "
    "toks AS (SELECT m, "
    " CAST(SUM(CASE WHEN doc_id < cutoff THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_docs, "
    " CAST(SUM(CASE WHEN doc_id < cutoff THEN ntok ELSE 0 END) AS BIGINT) "
    "  AS n_tokens FROM dtok, cut GROUP BY m), "
    "wf AS (SELECT word, MIN(doc_id) AS fd FROM (SELECT doc_id, "
    " unnest(string_split(text, ' ')) AS word FROM documents) u "
    " WHERE word <> '' GROUP BY word), "
    "voc AS (SELECT m, CAST(SUM(CASE WHEN fd < cutoff THEN 1 ELSE 0 END) "
    " AS BIGINT) AS vocab_size FROM wf, cut GROUP BY m) "
    "SELECT CAST(m AS BIGINT) AS milestone, n_docs, n_tokens, vocab_size "
    "FROM toks JOIN voc USING (m)",
)
def lm_heaps_profile(spark, sf):
    """Heaps'-law vocabulary-growth profile — cumulative vocabulary
    size against tokens ingested at ten document milestones, the
    companion curve to ``lm_zipf_profile`` (Zipf describes the
    frequency head; Heaps describes how the TYPE COUNT grows, the
    curve that sizes a tokenizer's vocab budget and flags templated
    corpora by premature saturation).

    Count contracts: milestones cut at m*N/10 by the fixture's dense
    doc_id order (the scan_row_index layout contract); vocabulary at a
    cutoff = words whose FIRST carrier doc precedes it — min-per-word
    then a conditional count, the dedup_lines 'first occurrence as two
    keyed aggregations' discipline, never a running-distinct window.
    All exact integers, no floats anywhere.

    Scale shape: one fact-scale explode + map-side-combinable
    min-per-word (Zipf-sublinear distinct table), one per-doc token
    count, then both cross the 10-row milestone dimension — the heavy
    work is two corpus passes, everything after is dimension-sized."""
    d = _docs_par(spark, sf)
    ms = spark.range(1, 11).select(F.col("id").cast("long").alias("m"))
    t = d.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    cut = ms.crossJoin(F.broadcast(t)).select(
        "m", F.expr("(m * nd) div 10").alias("cutoff")
    )
    dtok = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("ntok")
    )
    toks = (
        dtok.crossJoin(F.broadcast(cut))
        .groupBy("m")
        .agg(
            F.sum(F.when(F.col("doc_id") < F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs"),
            F.sum(
                F.when(
                    F.col("doc_id") < F.col("cutoff"), F.col("ntok")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    wf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.min("doc_id").alias("fd"))
    )
    voc = (
        wf.crossJoin(F.broadcast(cut))
        .groupBy("m")
        .agg(
            F.sum(F.when(F.col("fd") < F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("vocab_size")
        )
    )
    return toks.join(voc, "m").select(
        F.col("m").alias("milestone"), "n_docs", "n_tokens", "vocab_size"
    )


# --- Gopher quality rules ---------------------------------------------------

@register(
    "quality_gopher_rules",
    # Gopher-style document quality gates (Rae et al. 2021, §A1.1
    # adapted to this corpus's clean-token fixture): word-count bounds,
    # mean-word-length bounds via integer cross-multiplies (3 <= mean
    # <= 10 tested as 3*n_words <= n_letter_chars <= 10*n_words — no
    # float mean), minimum stopword evidence, and the alpha-word
    # ratio >= 0.8 as 5*n_alpha >= 4*n_words. Every gate is an exact
    # integer comparison.
    f"WITH d AS (SELECT doc_id, string_split(text, ' ') AS w, "
    " LEN(REPLACE(text, ' ', '')) AS letters FROM documents), "
    "m AS (SELECT doc_id, CAST(LEN(w) AS BIGINT) AS n_words, "
    " CAST(letters AS BIGINT) AS n_letters, "
    f" CAST(LEN(list_filter(w, x -> x IN ({_SW_SQL}))) AS BIGINT) "
    "  AS n_stop, "
    " CAST(LEN(list_filter(w, x -> regexp_matches(x, '^[a-z]+$'))) "
    "  AS BIGINT) AS n_alpha FROM d) "
    "SELECT doc_id, n_words, "
    "n_words >= 50 AND n_words <= 100000 AS pass_length, "
    "3 * n_words <= n_letters AND n_letters <= 10 * n_words "
    " AS pass_word_len, "
    "n_stop >= 2 AS pass_stopwords, "
    "5 * n_alpha >= 4 * n_words AS pass_alpha, "
    "(n_words >= 50 AND n_words <= 100000) "
    " AND (3 * n_words <= n_letters AND n_letters <= 10 * n_words) "
    " AND n_stop >= 2 AND 5 * n_alpha >= 4 * n_words AS pass_all "
    "FROM m",
)
def quality_gopher_rules(spark, sf):
    """Gopher-rules document quality gating (Rae et al. 2021) — the
    named filter set large-scale corpus curation actually cites,
    complementing ``quality_line_filter``'s C4 line rules and
    ``corpus_filter``'s composite score with the doc-level repetition-
    free subset expressible on this fixture: word-count window
    [50, 100k], mean word length in [3, 10], >= 2 stopwords, and >= 80%
    alphabetic words. Per-doc boolean verdicts with the per-rule
    breakdown a curation report needs.

    Float discipline: every gate is an EXACT integer comparison — the
    mean-word-length window multiplies through (3n <= letters <= 10n),
    the alpha ratio cross-multiplies (5*n_alpha >= 4*n_words) — so no
    float ever gates a document (the corpus_filter formatted-score
    lesson, made unnecessary by construction).

    Scale shape: pure scalar codegen over one corpus scan — zero
    shuffles; at 100 TB this runs at parquet-scan speed and its
    pass_all column IS the curation predicate pushed into every
    downstream read."""
    words = F.split(F.col("text"), " ")
    m = _docs_par(spark, sf).select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("n_letters"),
        F.size(F.filter(words, lambda x: x.isin(*_STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
        F.size(
            F.filter(words, lambda x: x.rlike("^[a-z]+$"))
        )
        .cast("long")
        .alias("n_alpha"),
    )
    nw, nl = F.col("n_words"), F.col("n_letters")
    p_len = (nw >= 50) & (nw <= 100000)
    p_wl = (3 * nw <= nl) & (nl <= 10 * nw)
    p_sw = F.col("n_stop") >= 2
    p_al = 5 * F.col("n_alpha") >= 4 * nw
    return m.select(
        "doc_id",
        "n_words",
        p_len.alias("pass_length"),
        p_wl.alias("pass_word_len"),
        p_sw.alias("pass_stopwords"),
        p_al.alias("pass_alpha"),
        (p_len & p_wl & p_sw & p_al).alias("pass_all"),
    )


# --- first-fit-decreasing context packing ----------------------------------

PACK_FFD_CAPACITY = 512  # tokens per context window (fixture-scaled)


@register("pack_ffd", None)  # pytest == python twin + capacity property
def pack_ffd(spark, sf):
    """First-fit-decreasing context packing — the OTHER packing style
    next to ``pack_sequences`` (concat-and-split slices documents
    across window boundaries; SFT-style packing must keep each document
    WHOLE, so it bin-packs: sort by length descending, place each doc
    in the first window with room — the classic FFD 11/9-optimal
    greedy). Bins are per source (the unit a curriculum shards by);
    emits (source, doc_id, bin_id, n_tokens).

    Class-(b) custom operator: FFD is inherently sequential per group,
    so it runs as a grouped-map ``applyInPandas`` kernel — sequential
    per source, distributed across sources (the kg_betweenness
    pattern). Deterministic: the placement order (n_tokens DESC,
    doc_id ASC) is total, so the packing is a pure function of the
    corpus; pytest pins it against an independent pure-Python FFD and
    the per-bin capacity invariant. Docs longer than the capacity get
    singleton bins (standard FFD degeneracy, pytest-pinned).

    Scale shape: ONE source-keyed exchange; kernel cost is
    O(docs x bins) per source with bins bounded by corpus/capacity —
    at 100 TB the source key is replaced by (source, shard-hash) to
    bound group size, the documented trade every per-group kernel in
    this repo carries."""
    import pandas as pd

    d = _docs(spark, sf).select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        loads: list[int] = []
        bins: list[int] = []
        for t in pdf.n_tokens:
            placed = -1
            for i, ld in enumerate(loads):
                if ld + t <= PACK_FFD_CAPACITY:
                    placed = i
                    break
            if placed < 0:
                loads.append(int(t))
                placed = len(loads) - 1
            else:
                loads[placed] += int(t)
            bins.append(placed)
        return pd.DataFrame(
            {
                "source": pdf.source,
                "doc_id": pdf.doc_id,
                "bin_id": pd.array(bins, dtype="int64"),
                "n_tokens": pdf.n_tokens,
            }
        )

    return d.groupBy("source").applyInPandas(
        ffd, "source string, doc_id long, bin_id long, n_tokens long"
    )


# --- curriculum ordering ---------------------------------------------------

@register(
    "curriculum_order",
    # Curriculum ordering: band = number of Gopher gates passed (0-4,
    # all exact integer comparisons), rank = position under the total
    # (band DESC, doc_id ASC) order — easy/clean documents first, the
    # ordering a curriculum-learning data loader consumes.
    f"WITH d AS (SELECT doc_id, string_split(text, ' ') AS w, "
    " LEN(REPLACE(text, ' ', '')) AS letters FROM documents), "
    "m AS (SELECT doc_id, CAST(LEN(w) AS BIGINT) AS n_words, "
    " CAST(letters AS BIGINT) AS n_letters, "
    f" CAST(LEN(list_filter(w, x -> x IN ({_SW_SQL}))) AS BIGINT) "
    "  AS n_stop, "
    " CAST(LEN(list_filter(w, x -> regexp_matches(x, '^[a-z]+$'))) "
    "  AS BIGINT) AS n_alpha FROM d), "
    "b AS (SELECT doc_id, n_words, "
    " CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 "
    "  ELSE 0 END) "
    " + (CASE WHEN 3 * n_words <= n_letters AND n_letters <= 10 * n_words "
    "  THEN 1 ELSE 0 END) "
    " + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) "
    " + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END) "
    " AS BIGINT) AS band FROM m) "
    "SELECT doc_id, n_words, band, "
    "CAST(ROW_NUMBER() OVER (ORDER BY band DESC, doc_id) AS BIGINT) "
    " AS curriculum_rank FROM b",
)
def curriculum_order(spark, sf):
    """Curriculum ordering of the training corpus — cleanest documents
    first: band = how many ``quality_gopher_rules`` gates a document
    passes (0-4), rank = position under the total (band DESC, doc_id)
    order. This is the ordering a curriculum-learning loader feeds to
    ``pack_ffd``/``pack_sequences`` (start training on high-quality
    text, anneal in the tail — the data-mixing counterpart of
    ``mix_temperature``'s source weighting).

    Float discipline: none needed — bands are exact integer gate sums
    and the rank is a total integer/string-free order.

    Scale shape: the Gopher scalar pass (zero shuffles) plus ONE
    global rank; at 100 TB the global row_number is replaced by the
    shuffle_shard two-level rank (band-partitioned windows + offset
    join — the pack_sequences prefix-sum discipline), the documented
    trade every global-order key carries."""
    from pyspark.sql.window import Window

    words = F.split(F.col("text"), " ")
    m = _docs_par(spark, sf).select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("n_letters"),
        F.size(F.filter(words, lambda x: x.isin(*_STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
        F.size(F.filter(words, lambda x: x.rlike("^[a-z]+$")))
        .cast("long")
        .alias("n_alpha"),
    )
    nw, nl = F.col("n_words"), F.col("n_letters")
    band = (
        F.when((nw >= 50) & (nw <= 100000), 1).otherwise(0)
        + F.when((3 * nw <= nl) & (nl <= 10 * nw), 1).otherwise(0)
        + F.when(F.col("n_stop") >= 2, 1).otherwise(0)
        + F.when(5 * F.col("n_alpha") >= 4 * nw, 1).otherwise(0)
    ).cast("long")
    b = m.select("doc_id", "n_words", band.alias("band"))
    w = Window.orderBy(F.desc("band"), F.asc("doc_id"))
    return b.select(
        "doc_id",
        "n_words",
        "band",
        F.row_number().over(w).cast("long").alias("curriculum_rank"),
    )


# --- language-ID confusion matrix ------------------------------------------

@register(
    "eval_lang_confusion",
    # Confusion matrix of the lang_id heuristic against the table's own
    # language labels — the evaluation every classifier gets before
    # gating on it; composes the lang_id decision rule verbatim. Exact
    # counts plus one recall division per true-language row.
    "WITH p AS (SELECT lang AS true_lang, CASE "
    f"WHEN {_marker_hits_sql('de')} > {_marker_hits_sql('en')} "
    f" AND {_marker_hits_sql('de')} >= {_marker_hits_sql('fr')} THEN 'de' "
    f"WHEN {_marker_hits_sql('fr')} > {_marker_hits_sql('en')} THEN 'fr' "
    f"WHEN {_marker_hits_sql('en')} > 0 THEN 'en' ELSE 'unknown' END "
    " AS pred_lang FROM documents), "
    "c AS (SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n "
    " FROM p GROUP BY 1, 2), "
    "t AS (SELECT true_lang, CAST(SUM(n) AS BIGINT) AS tot FROM c "
    " GROUP BY 1) "
    "SELECT c.true_lang, c.pred_lang, c.n, "
    "printf('%.6f', ROUND(CAST(c.n AS DOUBLE) / t.tot, 6)) AS row_share "
    "FROM c JOIN t ON t.true_lang = c.true_lang",
)
def eval_lang_confusion(spark, sf):
    """Confusion matrix of the ``lang_id`` heuristic against the
    corpus's own language labels — the evaluation a curation pipeline
    runs BEFORE trusting a cheap classifier as a gate (the
    ``eval_cohen_kappa`` question asked of a multiclass rater, with
    the full per-cell breakdown an error analysis needs: which
    languages leak into which predictions). Composes the lang_id
    decision rule VERBATIM on both engines, so green here also pins
    the composition.

    Float discipline: cell and row counts are exact BIGINTs; each
    row-share is ONE division under ROUND + %.6f.

    Scale shape: the lang_id scalar pass (zero extra shuffles beyond
    one hash aggregate onto the languages^2-sized cell domain) plus a
    broadcast row-total join."""
    d = _docs_par(spark, sf)
    lower_words = F.split(F.lower("text"), " ")

    def hits(lang: str):
        arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(
            F.filter(lower_words, lambda w: F.array_contains(arr, w))
        )

    en, de, fr = hits("en"), hits("de"), hits("fr")
    p = d.select(
        F.col("lang").alias("true_lang"),
        F.when((de > en) & (de >= fr), "de")
        .when(fr > en, "fr")
        .when(en > 0, "en")
        .otherwise("unknown")
        .alias("pred_lang"),
    )
    c = p.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("true_lang").agg(F.sum("n").cast("long").alias("tot"))
    fmt6 = lambda x: F.format_string("%.6f", F.round(x, 6))  # noqa: E731
    return c.join(F.broadcast(t), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        fmt6(F.col("n").cast("double") / F.col("tot")).alias("row_share"),
    )


# ------------------------------------------------- collocation lift ----

@register(
    "lm_collocations",
    # Bigram collocation mining by LIFT = T·c(ab) / (c(a·)·c(·b)) with
    # min support c(ab) >= 5: every factor (pair count, left/right
    # marginals from the PAIR table, total bigram tokens T) is an exact
    # BIGINT, the score is ONE correctly-rounded IEEE division of exact
    # integer products (the tfidf_topk rule — ranking bit-identical
    # across engines), and (lift DESC, w1, w2) is a tie-free total
    # order because (w1, w2) is unique.
    f"WITH bg AS ({_BIGRAM2_SQL}), "
    "p AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg "
    " GROUP BY 1, 2), "
    "l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM p GROUP BY 1), "
    "r AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM p GROUP BY 1), "
    "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM p) "
    "SELECT p.w1, p.w2, p.cnt, l.c1, r.c2, "
    "printf('%.6f', ROUND(CAST(p.cnt * t.tt AS DOUBLE) "
    " / CAST(l.c1 * r.c2 AS DOUBLE), 6)) AS lift "
    "FROM p JOIN l ON l.w1 = p.w1 JOIN r ON r.w2 = p.w2, t "
    "WHERE p.cnt >= 5 "
    "ORDER BY CAST(p.cnt * t.tt AS DOUBLE) / CAST(l.c1 * r.c2 AS DOUBLE) "
    " DESC, p.w1, p.w2 LIMIT 50",
)
def lm_collocations(spark, sf):
    """Collocation mining — the top-50 word bigrams by LIFT (observed
    pair frequency over the independence expectation), the association
    readout every phrase-extraction pipeline runs before building a
    tokenizer vocabulary or phrase table ('new york' scores high on
    lift even when raw count is middling). The RATIO is emitted instead
    of PMI's log of it (the kg_cooccur_lift rule: IEEE ·/÷ are exactly
    rounded everywhere, libm log is not), so ranking and values are
    bit-identical across engines; min support c(ab) >= 5 is the
    standard guard against one-off pairs with tiny marginals.

    Float discipline: lift = (c(ab)·T) / (c(a·)·c(·b)) — both products
    are exact BIGINTs (pair count ≤ T, marginal ≤ T, T² < 2^63 at any
    conceivable corpus shard), so the score is ONE correctly-rounded
    division; the (lift DESC, w1, w2) order is total because (w1, w2)
    is unique.

    Scale shape: the lm_bigram discipline — explode once to pairs, ONE
    pair-keyed partial+final aggregation, both marginals and the total
    derived from the PAIR table (never a second fact pass), marginal
    joins keyed w1/w2, the corpus total rides as a broadcast 1-row
    crossJoin, and the global top-50 is TakeOrderedAndProject."""
    p = colloc_pair_counts(_docs_par(spark, sf))
    return colloc_rollup(p)


def colloc_pair_counts(d0: DataFrame) -> DataFrame:
    """(w1, w2, cnt) bigram-pair counts over a documents table — the
    fact-scale half of ``lm_collocations``, shared with the streaming
    twin (pair COUNTs are exactly sum-mergeable across micro-batches,
    so merged per-batch counts == the one-shot counts)."""
    d = d0.select("doc_id", F.split("text", " ").alias("w"))
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), "
        "(x, i) -> struct(x AS w1, w[i + 1] AS w2))"
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    return bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def colloc_rollup(p: DataFrame) -> DataFrame:
    """Fold a (w1, w2, cnt) pair-count table into the top-50 lift
    readout — the dimension-scale half of ``lm_collocations`` (the
    exact-integer lift contract lives here), shared with the streaming
    twin."""
    lft = p.groupBy("w1").agg(F.sum("cnt").cast("long").alias("c1"))
    rgt = p.groupBy("w2").agg(F.sum("cnt").cast("long").alias("c2"))
    t = p.agg(F.sum("cnt").cast("long").alias("tt"))
    lift = (F.col("cnt") * F.col("tt")).cast("double") / (
        F.col("c1") * F.col("c2")
    ).cast("double")
    return (
        p.filter(F.col("cnt") >= 5)
        .join(lft, "w1")
        .join(rgt, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "cnt",
            "c1",
            "c2",
            lift.alias("_lift"),
        )
        .orderBy(F.desc("_lift"), "w1", "w2")
        .limit(50)
        .select(
            "w1",
            "w2",
            "cnt",
            "c1",
            "c2",
            F.format_string("%.6f", F.round(F.col("_lift"), 6)).alias(
                "lift"
            ),
        )
    )


# ------------------------------------------------ epoch upsampling ----

@register(
    "mix_epochs",
    # Upsample-to-balance repetition plan: per-source token masses are
    # exact integers, epochs = ceil(max_mass / mass_s) spelled as the
    # integer identity (max + m - 1) // m, capped at 4 (the standard
    # repeated-epochs guard), and the doc-level expansion enumerates
    # copy_idx 1..epochs — integers end-to-end, no float contract.
    "WITH m AS (SELECT source, "
    " CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks "
    " FROM documents GROUP BY 1), "
    "mx AS (SELECT CAST(MAX(toks) AS BIGINT) AS mxt FROM m), "
    "e AS (SELECT source, toks, "
    " LEAST(CAST(4 AS BIGINT), (mxt + toks - 1) // toks) AS epochs "
    " FROM m, mx) "
    "SELECT d.doc_id, d.source, e.epochs, "
    "CAST(unnest(generate_series(1, e.epochs)) AS BIGINT) AS copy_idx "
    "FROM documents d JOIN e ON e.source = d.source",
)
def mix_epochs(spark, sf):
    """Upsample-to-balance epoch plan — the repetition schedule a
    multi-source training mix runs when it balances by REPEATING small
    sources instead of reweighting the sampler (``mix_weights`` /
    ``mix_temperature`` compute sampling probabilities; this key
    materializes the deterministic copy list): every source is repeated
    ceil(max_tokens / tokens_s) times, capped at 4 epochs (past a few
    repeats, repetition hurts more than balance helps — the standard
    guard), and each document row expands to (doc_id, copy_idx 1..E).

    All masses, epoch counts, and indices are exact integers — the
    ceil is the integer identity (max + m − 1) div m, never a float.

    Scale shape: one fact pass for the per-source token masses
    (map-side combinable), a broadcast 1-row max, a broadcast
    source-level epochs dim joined back to documents (broadcast — the
    source domain is tiny), and a posexplode whose output is at most
    4× the corpus — the expansion IS the product, not overhead."""
    d = _docs(spark, sf)
    m = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    mx = m.agg(F.max("toks").cast("long").alias("mxt"))
    e = (
        m.crossJoin(F.broadcast(mx))
        .select(
            "source",
            "toks",
            F.least(
                F.lit(4).cast("long"),
                F.floor(
                    (F.col("mxt") + F.col("toks") - 1) / F.col("toks")
                ).cast("long"),
            ).alias("epochs"),
        )
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(e.select("source", "epochs")), "source")
        .select(
            "doc_id",
            "source",
            "epochs",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("epochs")))
            .alias("copy_idx"),
        )
    )


# --- RBP retrieval evaluation ---------------------------------------------

_RBP_K = 10
# Persistence p = 1/2 — DYADIC on purpose: with binary relevance every
# RBP term (1-p)*p^(r-1) = 2^-r is an exact double, the per-query sum
# scaled by 2^K is an exact integer, and no geometric-series float ever
# decides anything (the retrieval_mrr lcm discipline, here with powers
# of two instead of lcm(1..20)).
_RBP_SCALE = 1 << _RBP_K  # 1024


def _rbp_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    cands = ", ".join(
        f"c{i} AS (SELECT doc_id, l{i}, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1 QUALIFY rn <= {_RBP_K}), "
        f"a{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand, "
        f"CAST(COALESCE(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} "
        f"THEN CAST({_RBP_SCALE} AS BIGINT) >> rn ELSE 0 END), 0) "
        f"AS BIGINT) AS num FROM c{i})"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(f"a{i}" for i in range(len(_MRR_QUERIES)))
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, a{i}.n_cand, a{i}.num AS rbp_num, "
        f"printf('%.6f', ROUND(CAST(a{i}.num AS DOUBLE) "
        f"/ CAST({_RBP_SCALE} AS DOUBLE), 6)) AS rbp FROM {froms}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    total = " + ".join(f"a{i}.num" for i in range(len(_MRR_QUERIES)))
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, n_cand, rbp_num, rbp FROM ({per_q} UNION ALL "
        f"SELECT '__all__', CAST(0 AS BIGINT), CAST({total} AS BIGINT), "
        f"printf('%.6f', ROUND(CAST({total} AS DOUBLE) "
        f"/ CAST({3 * _RBP_SCALE} AS DOUBLE), 6)) FROM {froms}) q"
    )


@register("retrieval_rbp", _rbp_sql())
def retrieval_rbp(spark, sf):
    """Rank-biased precision (Moffat & Zobel) over the
    ``retrieval_mrr`` query set — the user-model metric of the
    evaluation family (MRR scores the first hit, MAP/NDCG integrate
    the whole head; RBP models a user who inspects rank r with
    geometric probability p^(r-1) and reports expected utility per
    inspected document). Binary relevance (label tf >=
    ``_MRR_REL_TF``), top-``_RBP_K`` ranking by ranking-term tf with
    the doc_id tie-break; the ``__all__`` row is the mean over the
    query set.

    Float discipline: persistence p = 1/2 is chosen DYADIC so every
    term (1-p)p^(r-1) = 2^-r is an exact double; the per-query sum
    scaled by 2^K is an exact BIGINT built with an integer SHIFT
    (1024 >> rn — no float power ever runs), and the reported RBP is
    ONE exact-integer IEEE division under ROUND + %.6f; the mean
    divides the exact summed numerator by 3*1024 in one operation.

    Scale shape: identical to retrieval_mrr — ONE corpus pass builds
    the checkpointed per-doc tf grain, each query's cut is a
    TakeOrderedAndProject top-10, the rank window runs over 10 rows,
    and the per-query branches fan out over the shared grain."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    aggs = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(_RBP_K)
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        ranked = cand.select(
            F.col(f"l{i}").alias("ltf"),
            F.row_number().over(w).alias("rn"),
        )
        aggs.append(
            ranked.agg(
                F.count(F.lit(1)).cast("long").alias(f"n{i}"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("ltf") >= _MRR_REL_TF,
                            F.expr(
                                f"shiftright(CAST({_RBP_SCALE} AS BIGINT),"
                                " CAST(rn AS INT))"
                            ),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"num{i}"),
            )
        )
    one = aggs[0]
    for a_i in aggs[1:]:
        one = one.crossJoin(a_i)

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    total = None
    for i in range(len(_MRR_QUERIES)):
        total = (
            F.col(f"num{i}") if total is None else total + F.col(f"num{i}")
        )
    rows = [
        F.struct(
            F.lit(f"{r}->{l}").alias("query"),
            F.col(f"n{i}").alias("n_cand"),
            F.col(f"num{i}").alias("rbp_num"),
            fmt(
                F.col(f"num{i}").cast("double")
                / F.lit(float(_RBP_SCALE))
            ).alias("rbp"),
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ] + [
        F.struct(
            F.lit("__all__").alias("query"),
            F.lit(0).cast("long").alias("n_cand"),
            total.cast("long").alias("rbp_num"),
            fmt(
                total.cast("double") / F.lit(float(3 * _RBP_SCALE))
            ).alias("rbp"),
        )
    ]
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query", "q.n_cand", "q.rbp_num", "q.rbp"
    )


# --- bpref retrieval evaluation --------------------------------------------

def _bpref_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    cands = ", ".join(
        f"c{i} AS (SELECT "
        f"CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END AS rel, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1), "
        f"n{i} AS (SELECT SUM(CASE WHEN rel = 0 THEN 1 ELSE 0 END) "
        f"OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND "
        f"CURRENT ROW) - (1 - rel) AS nr, rel FROM c{i}), "
        f"a{i} AS (SELECT "
        f"CAST(SUM(rel) AS BIGINT) AS r, "
        f"CAST(SUM(1 - rel) AS BIGINT) AS nn, "
        f"CAST(COALESCE(SUM(CASE WHEN rel = 1 THEN "
        f"LEAST((SELECT SUM(rel) FROM c{i}), "
        f"(SELECT SUM(1 - rel) FROM c{i})) "
        f"- LEAST(nr, LEAST((SELECT SUM(rel) FROM c{i}), "
        f"(SELECT SUM(1 - rel) FROM c{i}))) ELSE 0 END), 0) AS BIGINT) "
        f"AS num FROM n{i})"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(f"a{i}" for i in range(len(_MRR_QUERIES)))
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, a{i}.r AS n_rel, "
        f"a{i}.nn AS n_nonrel, "
        f"printf('%.6f', ROUND(CAST(a{i}.num AS DOUBLE) "
        f"/ CAST(a{i}.r * LEAST(a{i}.r, a{i}.nn) AS DOUBLE), 6)) "
        f"AS bpref FROM {froms} WHERE a{i}.r * LEAST(a{i}.r, a{i}.nn) > 0"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, n_rel, n_nonrel, bpref FROM ({per_q}) q"
    )


@register("retrieval_bpref", _bpref_sql())
def retrieval_bpref(spark, sf):
    """bpref (Buckley & Voorhees) over the ``retrieval_mrr`` query set
    — the judgment-robust member of the evaluation family: it scores a
    ranking ONLY by how often judged-nonrelevant documents are ranked
    above judged-relevant ones, which is the metric of record when
    relevance judgments are incomplete (the exact situation of a
    synthetic label signal). Judged pool = all candidates containing
    the ranking term; relevant = label tf >= ``_MRR_REL_TF``. bpref =
    (1/R) * sum over relevant r of (1 - min(n_r, D)/D) with n_r = the
    number of nonrelevant ranked above r and D = min(R, N).

    Float discipline: the running nonrelevant-above counts n_r come
    off ONE cumulative window of exact integers; the sum is scaled by
    R*D so the numerator sum(D - min(n_r, D)) is an exact BIGINT and
    bpref is ONE correctly-rounded IEEE division under ROUND + %.6f.

    Scale shape: one corpus pass to the checkpointed tf grain; each
    query's cumulative window runs over its candidate slice (bounded
    by term selectivity — the slice IS the judged pool, there is no
    full-corpus window), and the rollup is three integers per query."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    outs = []
    for i, (rq, lq) in enumerate(_MRR_QUERIES):
        cand = tf.filter(F.col(f"r{i}") >= 1).select(
            F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1)
            .otherwise(0)
            .alias("rel"),
            F.col(f"r{i}").alias("rtf"),
            "doc_id",
        )
        w = Window.orderBy(F.desc("rtf"), F.asc("doc_id")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        n = cand.select(
            "rel",
            (
                F.sum(1 - F.col("rel")).over(w) - (1 - F.col("rel"))
            ).alias("nr"),
        )
        a = n.agg(
            F.sum("rel").cast("long").alias("r"),
            F.sum(1 - F.col("rel")).cast("long").alias("nn"),
            F.collect_list(
                F.when(F.col("rel") == 1, F.col("nr"))
            ).alias("nrs"),
        )
        dd = F.least(F.col("r"), F.col("nn"))
        num = F.aggregate(
            F.col("nrs"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + dd - F.least(x, dd),
        )
        outs.append(
            a.filter(F.col("r") * dd > 0).select(
                F.lit(f"{rq}->{lq}").alias("query"),
                F.col("r").alias("n_rel"),
                F.col("nn").alias("n_nonrel"),
                fmt(
                    num.cast("double") / (F.col("r") * dd).cast("double")
                ).alias("bpref"),
            )
        )
    out = outs[0]
    for o_i in outs[1:]:
        out = out.unionAll(o_i)
    return out


# --- 11-point interpolated precision-recall --------------------------------

def _interp_pr_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    cands = ", ".join(
        f"c{i} AS (SELECT "
        f"CASE WHEN l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END AS rel, "
        f"ROW_NUMBER() OVER (ORDER BY r{i} DESC, doc_id) AS rn "
        f"FROM tf WHERE r{i} >= 1), "
        f"h{i} AS (SELECT rn, SUM(rel) OVER (ORDER BY rn "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits, "
        f"(SELECT SUM(rel) FROM c{i}) AS rr FROM c{i})"
        for i in range(len(_MRR_QUERIES))
    )
    levels = "(SELECT UNNEST(generate_series(0, 10)) AS lev)"
    per_q = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, CAST(lev AS BIGINT) AS recall_pct10, "
        f"printf('%.6f', ROUND(MAX(CAST(hits AS DOUBLE) "
        f"/ CAST(rn AS DOUBLE)), 6)) AS interp_p "
        f"FROM h{i}, {levels} WHERE 10 * hits >= lev * rr AND rr > 0 "
        f"GROUP BY lev"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {cands} "
        f"SELECT query, recall_pct10, interp_p FROM ({per_q}) q"
    )


@register("retrieval_interp_pr", _interp_pr_sql())
def retrieval_interp_pr(spark, sf):
    """Eleven-point interpolated precision-recall curve over the
    ``retrieval_mrr`` query set — the TREC-classic curve behind every
    PR plot: P_interp(j/10) = max precision at any rank whose recall
    reaches j/10, for j = 0..10 (``retrieval_pr_at_k`` reports one
    operating point; this key reports the whole envelope, 33 rows).

    Float discipline: the recall gate is the exact integer
    cross-multiplication 10*hits >= j*R (no recall float exists);
    precision at each rank is ONE correctly-rounded IEEE division of
    exact integers, and the interpolation is MAX over those doubles —
    max is order-independent and accumulation-free, so unlike a SUM it
    is safe over engine-unordered rows (the one aggregate this module
    trusts on raw doubles); reported under ROUND + %.6f.

    Scale shape: one corpus pass to the checkpointed tf grain; each
    query's cumulative-hits window runs over its bounded candidate
    slice, the 11 levels explode from a literal array (no join), and
    the rollup is 11 rows per query."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    outs = []
    for i, (rq, lq) in enumerate(_MRR_QUERIES):
        cand = tf.filter(F.col(f"r{i}") >= 1).select(
            F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1)
            .otherwise(0)
            .alias("rel"),
            F.col(f"r{i}").alias("rtf"),
            "doc_id",
        )
        w = Window.orderBy(F.desc("rtf"), F.asc("doc_id"))
        h = cand.select(
            F.row_number().over(w).alias("rn"),
            F.sum("rel")
            .over(
                Window.orderBy(F.desc("rtf"), F.asc("doc_id")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("hits"),
        )
        tot = cand.agg(F.sum("rel").cast("long").alias("rr"))
        lev = F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(10).cast("long"))
        ).alias("lev")
        hh = h.crossJoin(F.broadcast(tot)).select(
            "rn", "hits", "rr", lev
        )
        outs.append(
            hh.filter(
                (10 * F.col("hits") >= F.col("lev") * F.col("rr"))
                & (F.col("rr") > 0)
            )
            .groupBy("lev")
            .agg(
                F.max(
                    F.col("hits").cast("double")
                    / F.col("rn").cast("double")
                ).alias("mp")
            )
            .select(
                F.lit(f"{rq}->{lq}").alias("query"),
                F.col("lev").cast("long").alias("recall_pct10"),
                fmt(F.col("mp")).alias("interp_p"),
            )
        )
    out = outs[0]
    for o_i in outs[1:]:
        out = out.unionAll(o_i)
    return out


# --- stupid-backoff LM scoring ---------------------------------------------

_SB_W1, _SB_W2 = "window", "join"
# backoff factor 1/2 — DYADIC on purpose (Brants et al. use 0.4; 0.4 is
# not exactly representable and the engines would type the literal
# differently — the bm25 dyadic-constants rule): each score is one exact
# division optionally scaled by an exact power of two.


def _sb_sql() -> str:
    return (
        "WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents), "
        "uni AS (SELECT unnest(ws) AS w FROM toks), "
        "u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY w), "
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni), "
        "bi AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),"
        " i -> ws[i] || chr(1) || ws[i + 1])) AS bg FROM toks), "
        "b AS (SELECT split_part(bg, chr(1), 1) AS w1, "
        " split_part(bg, chr(1), 2) AS w2, CAST(COUNT(*) AS BIGINT) AS cb "
        " FROM bi GROUP BY 1, 2), "
        "tri AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 2),"
        " i -> ws[i] || chr(1) || ws[i + 1] || chr(1) || ws[i + 2])) AS tg "
        " FROM toks), "
        "t AS (SELECT split_part(tg, chr(1), 3) AS w3, "
        " CAST(COUNT(*) AS BIGINT) AS ct FROM tri "
        f" WHERE split_part(tg, chr(1), 1) = '{_SB_W1}' "
        f" AND split_part(tg, chr(1), 2) = '{_SB_W2}' GROUP BY 1), "
        "b12 AS (SELECT cb AS c12 FROM b "
        f" WHERE w1 = '{_SB_W1}' AND w2 = '{_SB_W2}'), "
        "b2 AS (SELECT w2 AS w, cb FROM b "
        f" WHERE w1 = '{_SB_W2}'), "
        "c2t AS (SELECT CAST(SUM(cb) AS BIGINT) AS c2 FROM b "
        f" WHERE w1 = '{_SB_W2}'), "
        "sc AS (SELECT u.w, "
        " CASE WHEN t.ct IS NOT NULL THEN 3 "
        "  WHEN b2.cb IS NOT NULL THEN 2 ELSE 1 END AS lvl, "
        " CASE WHEN t.ct IS NOT NULL THEN "
        "  CAST(t.ct AS DOUBLE) / CAST(b12.c12 AS DOUBLE) "
        " WHEN b2.cb IS NOT NULL THEN "
        "  0.5 * (CAST(b2.cb AS DOUBLE) / CAST(c2t.c2 AS DOUBLE)) "
        " ELSE 0.25 * (CAST(u.cu AS DOUBLE) / CAST(nn.n AS DOUBLE)) END "
        "  AS s "
        " FROM u LEFT JOIN t ON t.w3 = u.w LEFT JOIN b2 ON b2.w = u.w, "
        " b12, c2t, nn) "
        "SELECT w AS word, CAST(lvl AS BIGINT) AS backoff_level, "
        "printf('%.6f', ROUND(s, 6)) AS score FROM sc "
        "ORDER BY s DESC, w LIMIT 20"
    )


@register("lm_stupid_backoff", _sb_sql())
def lm_stupid_backoff(spark, sf):
    """Stupid-backoff trigram scoring (Brants et al., the web-scale LM
    recipe) for the fixed context '{w1} {w2}': every vocabulary word is
    scored by the trigram relative frequency when the trigram exists,
    else by the backed-off bigram frequency scaled alpha, else the
    scaled unigram — the distributed-counts LM that needs NO
    normalization pass, which is exactly why it was the first LM to
    run at corpus scale (and why it fits one SQL plan). Top-20
    continuations reported with their backoff level.

    Float discipline: alpha = 1/2 (not the paper's 0.4 — 0.4 is
    non-dyadic and the engines type the literal differently, the bm25
    rule); every count is an exact BIGINT, each score is ONE
    correctly-rounded division optionally scaled by an exact power of
    two, the ranking compares those engine-identical doubles with a
    word tie-break, and the report is ROUND + %.6f.

    Scale shape: the n-gram tables are map-side-combinable counts off
    ONE token pass (array transforms, no per-row Python); the scoring
    join runs on the bounded vocab grain; the top-20 is a
    TakeOrderedAndProject."""
    d = _docs_par(spark, sf)
    ws = F.split(F.col("text"), " ")
    toks = d.select(ws.alias("ws"))
    uni = toks.select(F.explode("ws").alias("w"))
    u = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    nn = uni.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    b = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    tri = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 3),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2,"
                " ws[i + 2] AS w3))"
            )
        ).alias("tg")
    ).select("tg.w1", "tg.w2", "tg.w3")
    t = (
        tri.filter(
            (F.col("w1") == _SB_W1) & (F.col("w2") == _SB_W2)
        )
        .groupBy("w3")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    b12 = b.filter(
        (F.col("w1") == _SB_W1) & (F.col("w2") == _SB_W2)
    ).select(F.col("cb").alias("c12"))
    b2 = b.filter(F.col("w1") == _SB_W2).select(
        F.col("w2").alias("w"), "cb"
    )
    c2t = b.filter(F.col("w1") == _SB_W2).agg(
        F.sum("cb").cast("long").alias("c2")
    )
    sc = (
        u.join(F.broadcast(t), u["w"] == t["w3"], "left")
        .join(F.broadcast(b2.withColumnRenamed("w", "bw")),
              F.col("w") == F.col("bw"), "left")
        .crossJoin(F.broadcast(b12))
        .crossJoin(F.broadcast(c2t))
        .crossJoin(F.broadcast(nn))
    )
    score = (
        F.when(
            F.col("ct").isNotNull(),
            F.col("ct").cast("double") / F.col("c12").cast("double"),
        )
        .when(
            F.col("cb").isNotNull(),
            F.lit(0.5)
            * (F.col("cb").cast("double") / F.col("c2").cast("double")),
        )
        .otherwise(
            F.lit(0.25)
            * (F.col("cu").cast("double") / F.col("n").cast("double"))
        )
    )
    lvl = (
        F.when(F.col("ct").isNotNull(), 3)
        .when(F.col("cb").isNotNull(), 2)
        .otherwise(1)
        .cast("long")
    )
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return (
        sc.select(
            F.col("w").alias("word"),
            lvl.alias("backoff_level"),
            score.alias("_s"),
        )
        .orderBy(F.desc("_s"), F.asc("word"))
        .limit(20)
        .select("word", "backoff_level", fmt(F.col("_s")).alias("score"))
    )


@register(
    "macro_tokenizer_report",
    # Tokenizer fertility per language: exact token/word/char sums per
    # lang, each ratio ONE IEEE division under ROUND + %.6f.
    "WITH t AS (SELECT lang, "
    " CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words, "
    " CAST(LEN(REGEXP_EXTRACT_ALL(text, "
    "  '[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_toks, "
    " n_chars FROM documents), "
    "g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    " CAST(SUM(n_words) AS BIGINT) AS words, "
    " CAST(SUM(n_toks) AS BIGINT) AS toks, "
    " CAST(SUM(n_chars) AS BIGINT) AS chars FROM t GROUP BY lang) "
    "SELECT lang, n_docs, toks AS n_tokens, "
    "printf('%.6f', ROUND(CAST(toks AS DOUBLE) / CAST(words AS DOUBLE),"
    " 6)) AS tokens_per_word, "
    "printf('%.6f', ROUND(CAST(chars AS DOUBLE) / CAST(toks AS DOUBLE),"
    " 6)) AS chars_per_token "
    "FROM g WHERE words > 0 AND toks > 0",
)
def macro_tokenizer_report(spark, sf):
    """Tokenizer fertility report per language — the compression-cost
    readout a multilingual data pipeline tracks before training
    (fertility — tokens per word — decides how much context window
    each language burns; chars per token is the storage-side view):
    composes the ``token_count_bpe`` BPE-ish regex grain with the
    corpus lang column into per-language exact sums.

    Float discipline: token/word/char sums are exact BIGINTs off one
    pass; each reported ratio is ONE correctly-rounded IEEE division
    under ROUND + %.6f.

    Scale shape: one pruned scan (text, lang, n_chars), one
    map-side-combinable lang rollup — the bounded-grain discipline."""
    d = _docs_par(spark, sf)
    t = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_toks"),
        "n_chars",
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_toks").cast("long").alias("toks"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return g.filter((F.col("words") > 0) & (F.col("toks") > 0)).select(
        "lang",
        "n_docs",
        F.col("toks").alias("n_tokens"),
        fmt(
            F.col("toks").cast("double") / F.col("words").cast("double")
        ).alias("tokens_per_word"),
        fmt(
            F.col("chars").cast("double") / F.col("toks").cast("double")
        ).alias("chars_per_token"),
    )


# --- Yule's K (lexical repetitiveness) -------------------------------------

@register(
    "lm_yule_k",
    # Yule's characteristic K = 10^4 * (S2 - N) / N^2 with
    # S2 = sum over words of freq^2 and N the token count — all exact
    # BIGINTs from one word-count rollup, ONE final division; the
    # hapax count and vocabulary size ride along as exact integers.
    "WITH w AS (SELECT unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM w "
    " WHERE word <> '' GROUP BY word), "
    "g AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens, "
    " CAST(COUNT(*) AS BIGINT) AS vocab_size, "
    " CAST(SUM(freq * freq) AS BIGINT) AS s2, "
    " CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS hapax_count FROM f) "
    "SELECT n_tokens, vocab_size, hapax_count, s2, "
    "printf('%.6f', ROUND(CAST(10000 * (s2 - n_tokens) AS DOUBLE) "
    " / CAST(n_tokens * n_tokens AS DOUBLE), 6)) AS yule_k "
    "FROM g WHERE n_tokens > 0",
)
def lm_yule_k(spark, sf):
    """Yule's characteristic K — the corpus's lexical-repetitiveness
    constant (high K = a templated / machine-generated vocabulary that
    leans on few words; low K = natural lexical spread). The
    sample-size-robust companion to ``lm_zipf_profile``'s head and
    ``lm_heaps_profile``'s growth curve, and a standard
    quality-filtering signal for LM training corpora.

    Float discipline: word frequencies, S2 = sum(freq^2), the token
    count, vocabulary size, and hapax count are all exact BIGINTs from
    ONE word-count rollup (the lm_zipf_profile space-split tokenization
    contract); K = 10^4 * (S2 - N) / N^2 is ONE correctly-rounded IEEE
    division under ROUND + %.6f. (At 100 TB S2 moves to DECIMAL(38,0)
    — a 1e11-token word squared overflows BIGINT.)

    Scale shape: one fact-scale explode + map-side-combinable word
    count (Zipf makes the distinct-word table sublinear), then a
    one-row rollup over the word dimension."""
    f = (
        _docs(spark, sf)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    g = f.agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.col("freq") * F.col("freq")).cast("long").alias("s2"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax_count"),
    )
    fmt6 = lambda x: F.format_string("%.6f", F.round(x, 6))  # noqa: E731
    return g.filter(F.col("n_tokens") > 0).select(
        "n_tokens",
        "vocab_size",
        "hapax_count",
        "s2",
        fmt6(
            (10000 * (F.col("s2") - F.col("n_tokens"))).cast("double")
            / (F.col("n_tokens") * F.col("n_tokens")).cast("double")
        ).alias("yule_k"),
    )


# --- success@k retrieval evaluation -------------------------------------------

_SUCCESS_KS = (1, 3, 5, 10)


def _success_sql() -> str:
    per = ", ".join(
        f"c{i} AS (SELECT l{i}, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} DESC, doc_id) AS rn FROM tf WHERE r{i} >= 1 "
        f"QUALIFY rn <= {max(_SUCCESS_KS)}), "
        f"a{i} AS (SELECT "
        + ", ".join(
            f"CAST(COALESCE(SUM(CASE WHEN rn <= {k} AND "
            f"l{i} >= {_MRR_REL_TF} THEN 1 ELSE 0 END), 0) AS BIGINT) "
            f"AS h{k}_{i}"
            for k in _SUCCESS_KS
        )
        + f" FROM c{i})"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(f"a{i}" for i in range(len(_MRR_QUERIES)))

    def row(name: str, hits: dict[int, str], div: int) -> str:
        cols = ", ".join(
            f"{hits[k]} AS hits_{k}, "
            f"printf('%.6f', ROUND(CAST(CASE WHEN {hits[k]} > 0 THEN 1 "
            f"ELSE 0 END AS DOUBLE), 6)) AS success_{k}"
            if div == 1
            else f"{hits[k]} AS hits_{k}, "
            f"printf('%.6f', ROUND(CAST(("
            + " + ".join(
                f"CASE WHEN h{k}_{i} > 0 THEN 1 ELSE 0 END"
                for i in range(len(_MRR_QUERIES))
            )
            + f") AS DOUBLE) / {div}.0, 6)) AS success_{k}"
            for k in _SUCCESS_KS
        )
        return f"SELECT '{name}' AS query, {cols} FROM {froms}"

    rows = " UNION ALL ".join(
        row(f"{r}->{l}", {k: f"h{k}_{i}" for k in _SUCCESS_KS}, 1)
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    n = len(_MRR_QUERIES)
    tot = {
        k: "(" + " + ".join(f"h{k}_{i}" for i in range(n)) + ")"
        for k in _SUCCESS_KS
    }
    allrow = row("__all__", tot, n)
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} "
        f"SELECT * FROM ({rows} UNION ALL {allrow}) q"
    )


@register("retrieval_success_at_k", _success_sql())
def retrieval_success_at_k(spark, sf):
    """Success@k (hit rate) over the ``retrieval_mrr`` query set at
    k in {1, 3, 5, 10} — the is-there-ANY-relevant-doc-in-the-cut
    metric (what a RAG pipeline actually needs from its retriever: one
    good passage in the context window; ``retrieval_pr_at_k`` grades
    the whole cut, success@k grades the user-visible outcome). The
    ``__all__`` row is the macro-average hit rate across queries.

    Float discipline: hit counts at each depth are exact integers off
    the shared tf grain; per-query success is a 0/1 indicator and the
    pooled rate is ONE IEEE division of exact small integers — no
    composed float chain anywhere (the 0/1 rows are formatted through
    the same ROUND + %.6f contract so the column type is uniform).

    Scale shape: one corpus pass to the tf grain, one
    TakeOrderedAndProject top-10 cut per query (never a global sort),
    single-row joins finish it."""
    return success_at_k_rollup(
        query_tf_grain(_docs(spark, sf)).localCheckpoint()
    )


def success_at_k_rollup(tf: DataFrame) -> DataFrame:
    """Fold the query-tf grain into the success@k report — shared by
    ``retrieval_success_at_k`` and its streaming twin (the hit-count
    and pooled-rate contracts live here)."""
    from pyspark.sql.window import Window

    parts = []
    for i in range(len(_MRR_QUERIES)):
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
            .limit(max(_SUCCESS_KS))
            .select(
                f"l{i}",
                F.row_number()
                .over(Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id")))
                .alias("rn"),
            )
        )
        parts.append(
            cand.agg(
                *[
                    F.coalesce(
                        F.sum(
                            F.when(
                                (F.col("rn") <= k)
                                & (F.col(f"l{i}") >= _MRR_REL_TF),
                                1,
                            ).otherwise(0)
                        ),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias(f"h{k}_{i}")
                    for k in _SUCCESS_KS
                ]
            )
        )
    one = parts[0]
    for p_i in parts[1:]:
        one = one.crossJoin(p_i)

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    n = len(_MRR_QUERIES)

    def row(name, hits, div):
        fields = [F.lit(name).alias("query")]
        for k in _SUCCESS_KS:
            fields.append(hits[k].alias(f"hits_{k}"))
            if div == 1:
                succ = F.when(hits[k] > 0, 1).otherwise(0).cast("double")
            else:
                succ = sum(
                    (
                        F.when(F.col(f"h{k}_{i}") > 0, 1).otherwise(0)
                        for i in range(1, n)
                    ),
                    F.when(F.col(f"h{k}_0") > 0, 1).otherwise(0),
                ).cast("double") / F.lit(float(div))
            fields.append(fmt(succ).alias(f"success_{k}"))
        return F.struct(*fields)

    rows = [
        row(
            f"{r}->{l}",
            {k: F.col(f"h{k}_{i}") for k in _SUCCESS_KS},
            1,
        )
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ]
    sum_of = lambda k: sum(  # noqa: E731
        (F.col(f"h{k}_{i}") for i in range(1, n)), F.col(f"h{k}_0")
    )
    rows.append(row("__all__", {k: sum_of(k) for k in _SUCCESS_KS}, n))
    out_cols = ["q.query"]
    for k in _SUCCESS_KS:
        out_cols += [f"q.hits_{k}", f"q.success_{k}"]
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        *out_cols
    )


# --- rank-biased overlap ------------------------------------------------------

_RBO_K = 10
# d * 2^d for d = 1..10: the exact-integer denominators of the RBO
# terms at p = 1/2 (RBO_min = sum_d X_d / (d * 2^d)).
_RBO_DENOMS = tuple(d * (1 << d) for d in range(1, _RBO_K + 1))


def _rbo_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    per = ", ".join(
        f"ra{i} AS (SELECT doc_id, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} + l{i} DESC, doc_id) AS rn FROM tf "
        f"WHERE r{i} + l{i} >= 1 QUALIFY rn <= {_RBO_K}), "
        f"rb{i} AS (SELECT doc_id, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} DESC, doc_id) AS rn FROM tf WHERE r{i} >= 1 "
        f"QUALIFY rn <= {_RBO_K}), "
        f"m{i} AS (SELECT GREATEST(ra{i}.rn, rb{i}.rn) AS mx "
        f" FROM ra{i} JOIN rb{i} USING (doc_id)), "
        f"x{i} AS (SELECT "
        + ", ".join(
            f"CAST(COALESCE(SUM(CASE WHEN mx <= {d} THEN 1 ELSE 0 END), 0) "
            f"AS BIGINT) AS x{d}"
            for d in range(1, _RBO_K + 1)
        )
        + f" FROM m{i})"
        for i in range(len(_MRR_QUERIES))
    )
    term = " + ".join(
        f"CAST(x{d} AS DOUBLE) / {_RBO_DENOMS[d - 1]}.0"
        for d in range(1, _RBO_K + 1)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{r}->{l}' AS query, x{_RBO_K} AS overlap_10, "
        f"printf('%.6f', ROUND({term}, 6)) AS rbo FROM x{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    return f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} {rows}"


@register("retrieval_rbo", _rbo_sql())
def retrieval_rbo(spark, sf):
    """Rank-biased overlap (RBO at p = 1/2, depth 10) between each
    query's TWO-TERM ranking (tf of both query terms summed) and its
    single-term ablation (first term only) — the top-weighted
    ranking-similarity metric (Webber et al.): where
    ``events_kendall``-style rank correlations weight all positions
    equally, RBO geometrically discounts depth, which is how two
    RETRIEVAL rankings should be compared (nobody reads rank 40). The
    standard A/B harness readout for 'did the ranker change actually
    move what users see?' — here instrumented as a query-ablation
    study, the pair of rankings that genuinely shares documents.

    Float discipline: per-depth overlaps X_d are exact integers from
    one rank-pair join; at p = 1/2 every weight (1-p)*p^(d-1)/d is the
    exact dyadic-rational 1/(d*2^d), so each term is ONE IEEE division
    by the exactly-representable integer d*2^d, and the ten terms are
    summed in a FIXED left-associated chain spelled identically on
    both engines (never an unordered SUM over depths) under
    ROUND + %.6f. No pow() or log ever runs — the p^d ladder is
    precomputed integer denominators.

    Scale shape: one corpus pass to the checkpointed tf grain; per
    query two TakeOrderedAndProject top-10 cuts and a 10x10 join —
    constant work after the scan; single-row unions finish it."""
    return rbo_rollup(query_tf_grain(_docs(spark, sf)).localCheckpoint())


def rbo_rollup(tf: DataFrame) -> DataFrame:
    """Fold the query-tf grain into the per-query RBO readout — shared
    by ``retrieval_rbo`` and its streaming twin (the dyadic-weight
    fixed-chain contract lives here)."""
    from pyspark.sql.window import Window

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    parts = []
    for i, (r, l) in enumerate(_MRR_QUERIES):

        def top(score) -> DataFrame:
            return (
                tf.filter(score >= 1)
                .orderBy(score.desc(), F.asc("doc_id"))
                .limit(_RBO_K)
                .select(
                    "doc_id",
                    F.row_number()
                    .over(Window.orderBy(score.desc(), F.asc("doc_id")))
                    .alias("rn"),
                )
            )

        m = (
            top(F.col(f"r{i}") + F.col(f"l{i}"))
            .withColumnRenamed("rn", "rna")
            .join(
                top(F.col(f"r{i}")).withColumnRenamed("rn", "rnb"),
                "doc_id",
            )
            .select(F.greatest("rna", "rnb").alias("mx"))
        )
        x = m.agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("mx") <= dd, 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"x{dd}")
                for dd in range(1, _RBO_K + 1)
            ]
        )
        term = sum(
            (
                F.col(f"x{dd}").cast("double")
                / F.lit(float(_RBO_DENOMS[dd - 1]))
                for dd in range(2, _RBO_K + 1)
            ),
            F.col("x1").cast("double") / F.lit(float(_RBO_DENOMS[0])),
        )
        parts.append(
            x.select(
                F.lit(f"{r}->{l}").alias("query"),
                F.col(f"x{_RBO_K}").alias("overlap_10"),
                fmt(term).alias("rbo"),
            )
        )
    out = parts[0]
    for p_i in parts[1:]:
        out = out.unionByName(p_i)
    return out


# --- R-precision ------------------------------------------------------------

def _rprec_sql() -> str:
    """Build the retrieval_r_precision oracle: per query the relevant
    count R from the tf grain, candidates ranked (tf DESC, doc_id),
    hits inside the top-R cut, one exact division per row."""
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS "
        f"{c}{i}"
        for i, (r, l) in enumerate(_MRR_QUERIES)
        for c, t in (("r", r), ("l", l))
    )
    per = ", ".join(
        f"g{i} AS (SELECT CAST(SUM(CASE WHEN l{i} >= {_MRR_REL_TF} "
        f" THEN 1 ELSE 0 END) AS BIGINT) AS rel{i} FROM tf), "
        f"c{i} AS (SELECT l{i}, ROW_NUMBER() OVER "
        f"(ORDER BY r{i} DESC, doc_id) AS rn FROM tf WHERE r{i} >= 1), "
        f"a{i} AS (SELECT CAST(COALESCE(SUM(CASE WHEN c{i}.l{i} >= "
        f"{_MRR_REL_TF} AND c{i}.rn <= g{i}.rel{i} THEN 1 ELSE 0 END), 0) "
        f" AS BIGINT) AS hit{i} FROM c{i}, g{i})"
        for i in range(len(_MRR_QUERIES))
    )
    froms = ", ".join(f"a{i}, g{i}" for i in range(len(_MRR_QUERIES)))

    def row(name: str, hit: str, rel: str) -> str:
        return (
            f"SELECT '{name}' AS query, {rel} AS n_relevant, "
            f"{hit} AS n_hits, "
            f"printf('%.6f', ROUND(CASE WHEN {rel} > 0 THEN "
            f" CAST({hit} AS DOUBLE) / {rel} ELSE CAST(0 AS DOUBLE) END, "
            f" 6)) AS r_precision FROM {froms}"
        )

    n = len(_MRR_QUERIES)
    rows = " UNION ALL ".join(
        row(f"{r}->{l}", f"hit{i}", f"rel{i}")
        for i, (r, l) in enumerate(_MRR_QUERIES)
    )
    tot_h = " + ".join(f"hit{i}" for i in range(n))
    tot_r = " + ".join(f"rel{i}" for i in range(n))
    allrow = row("__all__", f"({tot_h})", f"({tot_r})")
    return (
        f"WITH tf AS (SELECT doc_id, {tf_cols} FROM documents), {per} "
        f"SELECT * FROM ({rows} UNION ALL {allrow}) q"
    )


@register("retrieval_r_precision", _rprec_sql())
def retrieval_r_precision(spark, sf):
    """R-precision over the ``retrieval_mrr`` query set — the
    break-even point of the precision-recall curve (precision at rank
    R where R = the query's own relevant count), the single-number
    set-retrieval summary that, unlike P@k, cannot be gamed by the cut
    depth: each query is judged at exactly the depth it deserves. At
    that depth precision == recall, so one number carries both. The
    ``__all__`` row is the micro-average (pooled hits / pooled R).

    Float discipline: R and the hits-within-top-R are exact integers
    (ranking pinned by the total (tf DESC, doc_id) order on both
    engines); R-precision is ONE correctly-rounded IEEE division per
    row under ROUND + %.6f (zero-relevant queries report 0 by the
    retrieval_pr_at_k contract).

    Scale shape: one corpus pass to the checkpointed tf grain (the
    retrieval_mrr discipline); per query the rank window runs over the
    CANDIDATES ONLY (docs containing the ranking term — a pushed
    predicate bounds it far below the corpus), one single-row
    aggregate each; single-row joins finish it."""
    from pyspark.sql.window import Window

    d = _docs_par(spark, sf)
    cols = _mrr_tf_cols()
    tf = d.select(*cols).localCheckpoint()

    parts = []
    for i in range(len(_MRR_QUERIES)):
        g = tf.agg(
            F.sum(
                F.when(F.col(f"l{i}") >= _MRR_REL_TF, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"rel{i}")
        )
        w = Window.orderBy(F.desc(f"r{i}"), F.asc("doc_id"))
        cand = (
            tf.filter(F.col(f"r{i}") >= 1)
            .select(f"l{i}", F.row_number().over(w).alias("rn"))
            .crossJoin(F.broadcast(g))
        )
        a = cand.agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(f"l{i}") >= _MRR_REL_TF)
                        & (F.col("rn") <= F.col(f"rel{i}")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"hit{i}")
        )
        parts.append(a.crossJoin(g))
    one = parts[0]
    for p_i in parts[1:]:
        one = one.crossJoin(p_i)

    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731

    def row(name, hit, rel):
        return F.struct(
            F.lit(name).alias("query"),
            rel.alias("n_relevant"),
            hit.alias("n_hits"),
            fmt(
                F.when(rel > 0, hit.cast("double") / rel).otherwise(
                    F.lit(0).cast("double")
                )
            ).alias("r_precision"),
        )

    n = len(_MRR_QUERIES)
    rows = [
        row(f"{r}->{l}", F.col(f"hit{i}"), F.col(f"rel{i}"))
        for i, (r, l) in enumerate(_MRR_QUERIES)
    ]
    sum_of = lambda pre: sum(  # noqa: E731
        (F.col(f"{pre}{i}") for i in range(1, n)), F.col(f"{pre}0")
    )
    rows.append(row("__all__", sum_of("hit"), sum_of("rel")))
    return one.select(F.explode(F.array(*rows)).alias("q")).select(
        "q.query", "q.n_relevant", "q.n_hits", "q.r_precision"
    )


# --- per-split token budget --------------------------------------------------

@register(
    "corpus_split_budget",
    # Per-split corpus budget over the split_assign MD5 bands: doc /
    # whitespace-token / char counts (exact integers from one scan)
    # and each split's token share — one division per row against the
    # corpus total.
    "WITH s AS (SELECT CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), "
    f" 1, 2) <= '{_SPLIT_VAL_BOUND}' THEN 'val' "
    " WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <= "
    f"'{_SPLIT_TEST_BOUND}' "
    " THEN 'test' ELSE 'train' END AS split, "
    " CAST(LEN(string_split(text, ' ')) AS BIGINT) AS toks, "
    " CAST(n_chars AS BIGINT) AS chars FROM documents), "
    "g AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    " CAST(SUM(toks) AS BIGINT) AS n_tokens, "
    " CAST(SUM(chars) AS BIGINT) AS n_chars FROM s GROUP BY split), "
    "t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g) "
    "SELECT split, n_docs, n_tokens, n_chars, "
    "printf('%.6f', ROUND(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), "
    " 6)) AS token_share FROM g, t WHERE tot > 0",
)
def corpus_split_budget(spark, sf):
    """Per-split token budget — the first number a training plan reads
    off a frozen corpus (how many tokens does each ``split_assign``
    band actually hold, and is the eval share near its designed few
    percent?): doc, whitespace-token, and char counts per split plus
    each split's share of the corpus tokens. Pairs with
    ``dedup_cross_split`` as the split-health pair (budget + leakage)
    and with ``mix_weights``/``mix_epochs`` as the denominator their
    sampling math starts from.

    Float discipline: all counts are exact BIGINTs from ONE corpus
    scan (split membership is the split_assign MD5-prefix contract);
    token_share is ONE correctly-rounded IEEE division per row under
    ROUND + %.6f.

    Scale shape: one map-side-combinable scan collapse to the 3-row
    split grain; the share join is against a broadcast one-row total.
    At 100 TB this is the motivating case for materializing the split
    column into the table layout (split_assign's docstring) — the
    budget then reads from partition statistics alone."""
    d = _docs(spark, sf)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    s = d.select(
        F.when(h <= _SPLIT_VAL_BOUND, "val")
        .when(h <= _SPLIT_TEST_BOUND, "test")
        .otherwise("train")
        .alias("split"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.col("n_chars").cast("long").alias("chars"),
    )
    g = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("chars").cast("long").alias("n_chars"),
    )
    t = g.agg(F.sum("n_tokens").cast("long").alias("tot"))
    fmt = lambda c: F.format_string("%.6f", F.round(c, 6))  # noqa: E731
    return (
        g.crossJoin(F.broadcast(t))
        .filter(F.col("tot") > 0)
        .select(
            "split",
            "n_docs",
            "n_tokens",
            "n_chars",
            fmt(
                F.col("n_tokens").cast("double")
                / F.col("tot").cast("double")
            ).alias("token_share"),
        )
    )
