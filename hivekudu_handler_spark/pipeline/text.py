"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §7 M4, north-star extension — prov N).

Everything here is built from JVM-side ``pyspark.sql.functions`` so the
hot path is whole-stage-codegen'd: at 100 TB of documents, a row-at-a-time
Python UDF would be the bottleneck; these are not.

Shared normalization (must stay in lockstep with the oracles and with
pipeline/dedup.py): lowercase → non-alphanumeric runs to single space →
trim → whitespace split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.registry import query
from hivekudu_handler_spark.tables import load_table

# SQL fragments kept in lockstep with the Column builders below.
_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


def normalized(col: Column = None) -> Column:
    c = col if col is not None else F.col("text")
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokens(col: Column = None) -> Column:
    return F.split(normalized(col), " ")


# Deterministic marker-word sets per language for the lang-id heuristic.
# Real pipelines use character-n-gram models (fastText-style); the rule
# here is an honest, fully deterministic stand-in whose exact semantics
# are mirrored in the oracle (the differential test checks engine
# behavior, not model quality).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}


@query(
    "text_tokens",
    oracle=(
        "SELECT doc_id, "
        f"       len(list_filter({_TOKENS_SQL}, x -> x <> '')) AS n_tokens, "
        "       length(text) AS n_chars_actual, "
        "       n_chars, "
        f"       len(list_distinct(list_filter({_TOKENS_SQL}, x -> x <> ''))) "
        "         AS n_unique_tokens "
        "FROM documents"
    ),
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens after normalization, plus
    distinct-token count (type/token).

    The token array is materialized by a first projection and the
    features read the materialized column — Catalyst keeps the split as a
    separate project because the expression is non-cheap, so the
    regex+split chain runs once per row instead of once per feature."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.filter(tokens(), lambda x: x != "").alias("toks"),
    )
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        "n_chars",
        F.size(F.array_distinct("toks")).alias("n_unique_tokens"),
    )


@query(
    "text_quality",
    oracle=(
        "WITH t AS (SELECT doc_id, text, "
        f"            list_filter({_TOKENS_SQL}, x -> x <> '') AS toks "
        "           FROM documents) "
        "SELECT doc_id, "
        "       len(toks) AS n_tokens, "
        "       CASE WHEN len(toks) = 0 THEN 0.0 "
        "            ELSE length(array_to_string(toks, '')) * 1.0 / len(toks) "
        "       END AS mean_word_len, "
        "       length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0 "
        "         / greatest(length(text), 1) AS punct_ratio, "
        "       len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) "
        "         * 1.0 / greatest(len(toks), 1) AS stopword_ratio, "
        "       (length(text) >= 100 AND len(toks) >= 20) AS passes_length_gate "
        "FROM t"
    ),
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: mean word length, punctuation ratio, stopword
    ratio, and a length gate — the standard cheap pre-filters before
    expensive dedup/model scoring in a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array once (see text_tokens): ~9 downstream
    # references each re-ran the regex+split chain before this projection
    t = d.select(
        "doc_id", "text", F.filter(tokens(), lambda x: x != "").alias("toks")
    )
    n = F.size("toks")
    stop = F.filter(F.col("toks"), lambda x: x.isin(*_LANG_MARKERS["en"]))
    return t.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(
            F.length(F.array_join("toks", "")) * F.lit(1.0) / n
        )
        .alias("mean_word_len"),
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
            * F.lit(1.0)
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (F.size(stop) * F.lit(1.0) / F.greatest(n, F.lit(1))).alias("stopword_ratio"),
        ((F.length("text") >= 100) & (n >= 20)).alias("passes_length_gate"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    return (
        f"len(list_filter({_TOKENS_SQL}, x -> x IN ({markers})))"
    )


@query(
    "text_langid",
    oracle=(
        "SELECT doc_id, "
        f"       {_lang_score_sql('en')} AS score_en, "
        f"       {_lang_score_sql('de')} AS score_de, "
        f"       {_lang_score_sql('fr')} AS score_fr, "
        f"       {_lang_score_sql('es')} AS score_es, "
        "       CASE "
        f"        WHEN {_lang_score_sql('en')} >= greatest({_lang_score_sql('de')}, "
        f"             {_lang_score_sql('fr')}, {_lang_score_sql('es')}) THEN 'en' "
        f"        WHEN {_lang_score_sql('de')} >= greatest({_lang_score_sql('fr')}, "
        f"             {_lang_score_sql('es')}) THEN 'de' "
        f"        WHEN {_lang_score_sql('fr')} >= {_lang_score_sql('es')} THEN 'fr' "
        "         ELSE 'es' END AS predicted_lang "
        "FROM documents"
    ),
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-word language-ID heuristic with en→de→fr→es
    tie preference.  (The fixture corpus shares one vocabulary across its
    ``lang`` labels, so no content-based classifier can recover the label;
    the differential value is the deterministic scoring pipeline itself.)"""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array once (see text_tokens): each of the 4
    # scores (and their reuse in the CASE) otherwise re-ran the regex
    t = d.select("doc_id", tokens().alias("toks"))

    def marker_count(markers: tuple[str, ...]):
        # single-arg lambda: PySpark's higher-order filter treats a
        # two-parameter function as (element, index)
        return F.size(F.filter(F.col("toks"), lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in _LANG_MARKERS.items()}
    pred = (
        F.when(
            scores["en"]
            >= F.greatest(scores["de"], scores["fr"], scores["es"]),
            "en",
        )
        .when(scores["de"] >= F.greatest(scores["fr"], scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    return t.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["fr"].alias("score_fr"),
        scores["es"].alias("score_es"),
        pred.alias("predicted_lang"),
    )


@query(
    "text_repetition",
    oracle=(
        "WITH toks AS (SELECT doc_id, "
        f"  list_filter({_TOKENS_SQL}, x -> x <> '') AS w FROM documents), "
        "tri AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
        "  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] "
        "  ELSE [] END AS t, w FROM toks), "
        "base AS (SELECT doc_id, len(t) AS n_tri, "
        "  len(list_distinct(t)) AS n_tri_distinct, len(w) AS n_toks FROM tri), "
        "tc AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM ("
        "  SELECT doc_id, tok, COUNT(*) AS c FROM ("
        "    SELECT doc_id, unnest(w) AS tok FROM toks) "
        "  GROUP BY doc_id, tok) GROUP BY doc_id), "
        "j AS (SELECT b.doc_id, "
        "  CASE WHEN b.n_tri = 0 THEN 0.0 "
        "       ELSE 1.0 - b.n_tri_distinct * 1.0 / b.n_tri END AS dup_trigram_frac, "
        "  COALESCE(tc.top_tok_cnt, 0) * 1.0 / greatest(b.n_toks, 1) "
        "    AS top_token_frac "
        "  FROM base b LEFT JOIN tc ON b.doc_id = tc.doc_id) "
        "SELECT doc_id, dup_trigram_frac, top_token_frac, "
        "       dup_trigram_frac <= 0.05 AS passes_repetition_gate FROM j"
    ),
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 filter family):
    duplicate-trigram fraction and top-token fraction, plus a gate.
    Boilerplate and degenerate generations repeat n-grams; these two
    ratios are the standard cheap detectors.

    Scale shape: trigram totals/distincts are pure per-row expressions
    over the token array (no shuffle); the per-doc token mode is one
    explode + (doc, tok) count + per-doc max — the same two-level
    aggregate as any word-count, partial-aggregated map-side.  Ratios
    are emitted as raw IEEE doubles (one division of exact integer
    counts — bit-identical across engines; per-row ROUND is not)."""
    from hivekudu_handler_spark.pipeline.dedup import _SHINGLES_EXPR

    d = load_table(spark, sf_dir, "documents")
    t = pins.pin(  # two consumers below
        "text.repetition.toks",
        d.select("doc_id", F.filter(tokens(), lambda x: x != "").alias("toks")),
    )
    base = t.select(
        "doc_id",
        F.greatest(F.size("toks") - 2, F.lit(0)).alias("n_tri"),
        F.size(F.expr(_SHINGLES_EXPR)).alias("n_tri_distinct"),
        F.size("toks").alias("n_toks"),
    )
    top = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_cnt"))
    )
    dup_frac = F.when(F.col("n_tri") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.col("n_tri_distinct") * F.lit(1.0) / F.col("n_tri")
    )
    top_frac = (
        F.coalesce(F.col("top_tok_cnt"), F.lit(0))
        * F.lit(1.0)
        / F.greatest(F.col("n_toks"), F.lit(1))
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            dup_frac.alias("dup_trigram_frac"),
            top_frac.alias("top_token_frac"),
            (dup_frac <= 0.05).alias("passes_repetition_gate"),
        )
    )


# winnowing parameters: k-gram width over normalized chars, hash-window
# width.  Guarantee (Schleimer et al., SIGMOD'03): any match of length
# >= K + W - 1 chars between two documents shares at least one selected
# fingerprint — the property that makes a fingerprint equi-join a
# complete candidate generator for long-enough overlaps.
_WINNOW_K = 8
_WINNOW_W = 4
# rightmost-min tie-break: among equal hashes in a window the LARGEST
# position wins, encoded as a fixed-width complement so lexicographic
# min == (min hash, max pos).  9 digits bounds positions at 10^8 chars
# per document — far beyond any training document.
_WINNOW_POS_C = 100_000_000

# The full winnowing SELECT as embeddable SQL — the key's own oracle,
# and a CTE body for downstream oracles (dedup_winnow in
# pipeline/dedup.py), kept in lockstep with winnow_fingerprints below.
_WINNOW_FP_SQL = (
    "WITH d AS ("
    f"  SELECT doc_id, {_NORM_SQL} AS norm, "
    f"         length({_NORM_SQL}) - {_WINNOW_K} + 1 AS n_pos "
    "  FROM documents), "
    "keyed AS ("
    "  SELECT doc_id, n_pos, pos, "
    f"         md5(substr(norm, pos, {_WINNOW_K})) || "
    f"         lpad(CAST({_WINNOW_POS_C} - pos AS VARCHAR), 9, '0') AS key "
    "  FROM (SELECT doc_id, norm, n_pos, "
    "               unnest(generate_series(1, n_pos)) AS pos FROM d)), "
    "wm AS ("
    "  SELECT doc_id, pos AS win_start, n_pos, "
    "         min(key) OVER (PARTITION BY doc_id ORDER BY pos "
    f"            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING"
    "         ) AS sel "
    "  FROM keyed) "
    "SELECT DISTINCT doc_id, "
    f"       {_WINNOW_POS_C} - CAST(substr(sel, 33, 9) AS INT) AS fp_pos, "
    "       substr(sel, 1, 32) AS fp_hash "
    f"FROM wm WHERE win_start <= n_pos - {_WINNOW_W} + 1"
)


@query(
    "text_winnow_fingerprint",
    oracle=_WINNOW_FP_SQL,
    tags=("text", "dedup"),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): hash
    every K-char gram of the normalized text, slide a W-hash window,
    select each window's minimum (rightmost on ties) — the standard
    local fingerprinting scheme for corpus-scale overlap detection,
    guaranteeing any shared substring of length >= K+W-1 yields a
    shared fingerprint while keeping density ~2/(W+1).

    Relational form: the sequential rolling-hash (Rabin-Karp) trick is
    a one-machine optimization; here every position hashes
    independently inside whole-stage codegen (posexplode of a position
    sequence -> substring -> md5), the per-window argmin is ONE window
    min over a (hash, position-complement) fixed-width string key, and
    dedup of adjacent windows selecting the same fingerprint is a
    distinct.  ONE shuffle total: the distinct's grouping keys include
    doc_id, so Catalyst reuses the window's doc_id hash-partitioning
    for the final aggregate (plan-verified) — at 100 TB the
    selected set is the ~2/(W+1) density times positions, and the
    downstream dedup join is an equi-join on fp_hash.  Documents
    shorter than K+W-1 normalized chars emit no fingerprints (no full
    window exists), exactly as in the paper.  The match guarantee and
    density are property-pinned on synthetic docs in
    ``tests/test_new_surface_r16.py``."""
    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Core winnowing over any (doc_id, text) frame — see
    :func:`text_winnow_fingerprint` for semantics and scale analysis.

    Exchange placement (measured, r16): a pre-explode
    ``repartition("doc_id")`` — shuffle tiny doc rows, explode in
    parallel, window with no further exchange — benched SLOWER here
    (5.3 s vs 3.7 s warm at sf0.1) than letting the one exchange sit
    after the explode, because AQE sizes the sort/window stage from the
    real post-explode map-output bytes while a fixed repartition cannot
    be rebalanced.  If a production corpus ever arrives as few fat
    splits where the single-split explode serializes, the pre-explode
    repartition is the one-line knob to flip — but it is a knob, not
    the default, per the measurement."""
    d = docs.select("doc_id", normalized().alias("norm"))
    d = d.withColumn(
        "n_pos", F.length("norm") - F.lit(_WINNOW_K) + F.lit(1)
    )
    # docs too short for even one k-gram emit nothing; the filter also
    # guards Spark's sequence(), which would yield a DESCENDING [1, 0]
    # for n_pos <= 0 instead of DuckDB generate_series's empty list
    keyed = (
        d.filter(F.col("n_pos") >= 1)
        .select(
            "doc_id",
            "n_pos",
            F.explode(F.sequence(F.lit(1), F.col("n_pos"))).alias("pos"),
            "norm",
        )
        .select(
            "doc_id",
            "n_pos",
            "pos",
            F.concat(
                F.md5(F.expr(f"substring(norm, pos, {_WINNOW_K})")),
                F.lpad(
                    (F.lit(_WINNOW_POS_C) - F.col("pos")).cast("string"),
                    9,
                    "0",
                ),
            ).alias("key"),
        )
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    wm = keyed.select(
        "doc_id",
        "n_pos",
        F.col("pos").alias("win_start"),
        F.min("key").over(win).alias("sel"),
    )
    return (
        wm.filter(F.col("win_start") <= F.col("n_pos") - _WINNOW_W + 1)
        .select(
            "doc_id",
            (F.lit(_WINNOW_POS_C) - F.substring("sel", 33, 9).cast("int"))
            .cast("int")
            .alias("fp_pos"),
            F.substring("sel", 1, 32).alias("fp_hash"),
        )
        .distinct()
    )


@query(
    "text_fingerprint",
    oracle=(
        "SELECT doc_id, "
        f"       md5({_NORM_SQL}) AS fingerprint, "
        f"       md5(array_to_string(list_sort(list_distinct("
        f"         list_filter({_TOKENS_SQL}, x -> x <> ''))), ' ')) "
        "         AS bag_fingerprint "
        "FROM documents"
    ),
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the normalized text (layout-
    insensitive exact-dup key) and md5 of the sorted distinct token bag
    (order-insensitive near-dup key)."""
    d = load_table(spark, sf_dir, "documents")
    # normalize once; both fingerprints derive from the materialized column
    t = d.select("doc_id", normalized().alias("norm"))
    toks = F.filter(F.split("norm", " "), lambda x: x != "")
    return t.select(
        "doc_id",
        F.md5("norm").alias("fingerprint"),
        F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " ")).alias(
            "bag_fingerprint"
        ),
    )


_TFIDF_SQL = (
    "WITH toks AS ("
    "  SELECT doc_id, "
    f"        list_filter({_TOKENS_SQL}, x -> x <> '') AS w "
    "  FROM documents), "
    "tf AS ("
    "  SELECT doc_id, unnest(w) AS token, len(w) AS dl FROM toks), "
    "tfc AS ("
    "  SELECT doc_id, token, dl, COUNT(*) AS tf "
    "  FROM tf GROUP BY doc_id, token, dl), "
    "dfreq AS ("
    "  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY token), "
    "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
    "scored AS ("
    "  SELECT t.doc_id, t.token, "
    "         ROUND((t.tf * 1.0 / t.dl) * ln(n.n_docs * 1.0 / d.df), 6) "
    "           AS tfidf "
    "  FROM tfc t JOIN dfreq d USING (token) CROSS JOIN n), "
    "ranked AS ("
    "  SELECT doc_id, token, tfidf, "
    "         ROW_NUMBER() OVER (PARTITION BY doc_id "
    "                            ORDER BY tfidf DESC, token) AS rnk "
    "  FROM scored) "
    "SELECT doc_id, token, tfidf, CAST(rnk AS INT) AS rnk "
    "FROM ranked WHERE rnk <= 3"
)


@query("text_tfidf", oracle=_TFIDF_SQL, tags=("text",))
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: tf/|doc| × ln(N/df).

    The classic two-pass corpus statistic, with every shuffle keyed where
    the data already wants to live: token counts on (doc_id, token) —
    partial map-side combine absorbs the explode fanout; document
    frequencies on token (the vocabulary, ≪ corpus); the df join back
    token-aligned; the per-doc top-3 window on doc_id.  Plan-time that is
    five exchanges (both join sides align on token); at runtime AQE
    broadcasts the vocabulary side when it is small, collapsing the join
    alignment — hint-free because at 100 TB a web-scale vocab can exceed
    the broadcast budget, where the token-keyed shuffle join IS the right
    plan.  The corpus size N rides along as a 1-row cross join, not a
    driver-side collect, so the whole plan stays lazy.

    Ranking uses the ROUNDED score (6 dp) in BOTH engines so cross-engine
    float noise below the rounding grain cannot reorder the top-3.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.filter(tokens(), lambda x: x != "").alias("w"))
    tf = t.select(
        "doc_id", F.explode("w").alias("token"), F.size("w").alias("dl")
    )
    tfc = tf.groupBy("doc_id", "token", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tfc.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tfc.join(dfreq, "token")
        .crossJoin(total)
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("tf") / F.col("dl"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rnk").cast("int"))
    )


# GPT-2-style pre-tokenizer, restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) implement identically: ordered alternation of
# contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs, and whitespace — NO lookahead (RE2 has none), ascii
# classes (deterministic across engines/locales).
_BPE_PAT = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[a-zA-Z]+"
    "| ?[0-9]+"
    "| ?[^a-zA-Z0-9\\s]+"
    "|\\s+"
)
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")  # SQL-literal quote doubling


@query(
    "text_tokens_bpe",
    oracle=(
        "SELECT doc_id, "
        f"       len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) "
        "         AS n_bpe_tokens, "
        f"       len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL}'), "
        "            x -> NOT regexp_matches(x, '^\\s+$'))) AS n_non_ws, "
        f"       len(list_filter({_TOKENS_SQL}, x -> x <> '')) AS n_words "
        "FROM documents"
    ),
    tags=("text",),
)
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting with a BPE PRE-tokenizer regex (the
    GPT-2 split rule modulo lookahead): contraction suffixes, space-glued
    word/number runs, punctuation runs.  Counts per document: all
    fragments, non-whitespace fragments (≈ what a BPE vocab would then
    merge — the budget number a training pipeline actually packs on), and
    plain whitespace words for the tokens-per-word fertility ratio.
    One scan, one regex pass, whole-stage codegen; the fragment array
    never shuffles (counts only)."""
    d = load_table(spark, sf_dir, "documents")
    # group 0 = the whole match (Spark defaults to group 1; DuckDB to 0)
    frags = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    t = d.select("doc_id", frags.alias("fr"), tokens().alias("toks"))
    return t.select(
        "doc_id",
        F.size("fr").alias("n_bpe_tokens"),
        F.size(
            F.filter("fr", lambda x: ~x.rlike("^\\s+$"))
        ).alias("n_non_ws"),
        F.size(F.filter("toks", lambda x: x != "")).alias("n_words"),
    )


_HH_K = 100  # Misra-Gries capacity; guarantee threshold = n/(K+1)


@query(
    "text_heavy_hitters",
    oracle=(
        "WITH toks AS ("
        f"  SELECT unnest(list_filter({_TOKENS_SQL}, x -> x <> '')) AS token "
        "  FROM documents) "
        "SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token "
        f"HAVING COUNT(*) > (SELECT COUNT(*) FROM toks) / {_HH_K + 1}.0"
    ),
    tags=("text", "sketch"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining with a MERGEABLE Misra-Gries sketch — the
    deterministic-guarantee cousin of the HLL key: find every token
    whose corpus frequency exceeds n/(K+1) WITHOUT a corpus-sized
    group-by.

    Why this is the 100 TB shape: a plain ``GROUP BY token`` shuffles
    the full vocabulary (web-scale: 10⁸⁺ rows, heavy skew on the
    hitters).  Here each partition folds its token stream into a
    K-counter Misra-Gries summary (Arrow-batched: per-batch exact counts
    merge into the summary, then trim to K by subtracting the (K+1)-th
    largest — the Agarwal et al. "Mergeable Summaries" merge, which
    preserves the undercount bound ≤ n_p/(K+1)).  Survivor sets are
    CANDIDATE-COMPLETE for the global threshold: if a token's total
    count exceeds n/(K+1), an averaging argument puts it above
    n_p/(K+1) in at least one partition, so it survives there.  The
    tiny candidate union (≤ K·P rows) broadcasts back for one exact
    targeted count, so the FINAL output is exactly correct — which is
    what lets a sketch key keep a plain SQL oracle (GROUP BY + HAVING):
    sketch for candidate generation, exact verify for the answer, the
    same discipline as the LSH dedup stack."""
    import pandas as pd

    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.filter(tokens(), lambda x: x != "")).alias("token")
    )

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for t, c in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > _HH_K:
                cut = sorted(counters.values(), reverse=True)[_HH_K]
                counters = {
                    t: c - cut for t, c in counters.items() if c > cut
                }
        if counters:
            yield pd.DataFrame({"token": list(counters.keys())})

    cands = (
        tok.mapInPandas(
            mg, T.StructType([T.StructField("token", T.StringType())])
        )
        .distinct()
    )
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(n)
        .filter(F.col("cnt") > F.col("n") / (_HH_K + 1))
        .select("token", "cnt")
    )
