"""Text analysis for training-data pipelines (SURVEY.md §2.10,
LLM-7..LLM-9 + language-ID, token counting, fingerprinting).

Everything here is a narrow projection or a partial-aggregated group-by of
JVM-side expressions — per-document work parallelizes embarrassingly, and
corpus-level statistics (doc frequencies, histograms) shuffle only
(term, count) pairs. No Python UDF appears on any of these paths.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.store import store_path, write_once
from ..sources.tables import fan_out_small_input, input_bytes, load_table
from .dedup import JACCARD_TAU, SHINGLE_K, normalized_words, word_shingles


def type_token_ratio(words) -> "Column":
    """Rounded type-token ratio — THE lexical-diversity score; shared by
    llm_text_stats and llm_quality_percentile_filter so the stat and the
    gate built on it can never drift apart."""
    return F.round(
        F.size(F.array_distinct(words)) / F.size(words).cast("double"), 6
    )


@query(
    "llm_text_stats",
    survey_id="LLM-7",
    oracle=r"""
        SELECT doc_id,
               len(w)                                        AS n_words,
               length(text)                                  AS n_chars,
               ROUND(list_aggregate(list_transform(w, x -> len(x)), 'sum')
                     / len(w)::DOUBLE, 6)                    AS avg_word_len,
               len(list_distinct(w))                         AS n_distinct_words,
               ROUND(len(list_distinct(w)) / len(w)::DOUBLE, 6) AS type_token_ratio
        FROM (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS w
              FROM documents)
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: word/char counts, mean word length, type-token
    ratio — the per-doc half of a corpus quality report."""
    docs = load_table(spark, sf_dir, "documents")
    w = normalized_words(F.col("text"))
    total_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    return docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.length("text").alias("n_chars"),
        F.round(total_len / F.size(w).cast("double"), 6).alias("avg_word_len"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        type_token_ratio(w).alias("type_token_ratio"),
    )


@query(
    "llm_corpus_stats",
    survey_id="LLM-7",
    oracle="""
        SELECT lang, source,
               COUNT(*)                 AS n_docs,
               ROUND(AVG(n_chars), 6)   AS avg_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang, source
    """,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level histogram: docs / chars per (lang, source) — the
    partition-level bookkeeping every corpus pipeline reports."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "llm_tfidf",
    survey_id="LLM-8",
    oracle=r"""
        WITH words AS (
            SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
        ), df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY term
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf,
               ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights per (doc, term) without MLlib: explode → tf counts →
    doc-frequency join → smoothed idf. The df table is tiny (vocabulary),
    so its join broadcasts; only (doc, term) pairs shuffle. count(docs) is
    computed distributedly and joined as a 1-row broadcast, not collected."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(normalized_words(F.col("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


QUALITY_LANGS = ("en", "fr", "es", "de")
MIN_WORDS, MAX_WORDS = 20, 1000
MAX_REPETITION = 0.2
MIN_AVG_WLEN, MAX_AVG_WLEN = 3.0, 12.0


#: Shared by llm_quality_filter and llm_quality_trend (which aggregates
#: the identical gate decisions per source).
_QUALITY_FILTER_ORACLE = rf"""
        WITH feats AS (
            SELECT doc_id, lang,
                   len(w) AS n_words,
                   list_aggregate(list_transform(w, x -> len(x)), 'sum')
                       / len(w)::DOUBLE AS awl,
                   1.0 - len(list_distinct(g))::DOUBLE / len(g) AS rep3
            FROM (
                SELECT doc_id, lang, w,
                       list_transform(range(len(w) - 2),
                           i -> array_to_string(w[i+1:i+3], ' ')) AS g
                FROM (SELECT doc_id, lang,
                             string_split_regex(lower(text), '\s+') AS w
                      FROM documents)
                WHERE len(w) >= 3
            )
        )
        SELECT doc_id,
               n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}            AS len_ok,
               lang IN ('en', 'fr', 'es', 'de')                       AS lang_ok,
               rep3 <= {MAX_REPETITION}                               AS repetition_ok,
               awl BETWEEN {MIN_AVG_WLEN} AND {MAX_AVG_WLEN}          AS word_len_ok,
               (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
                 AND lang IN ('en', 'fr', 'es', 'de')
                 AND rep3 <= {MAX_REPETITION}
                 AND awl BETWEEN {MIN_AVG_WLEN} AND {MAX_AVG_WLEN}    AS keep
        FROM feats
"""


@query("llm_quality_filter", survey_id="LLM-9", oracle=_QUALITY_FILTER_ORACLE)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality gates: length bounds, language allowlist, repeated
    3-gram ratio, mean word length — each gate reported separately plus the
    conjunction, so downstream can audit why a doc dropped."""
    docs = load_table(spark, sf_dir, "documents")
    return QualityGates().flags(docs.select("doc_id", "lang", "text"))


#: Each gate as SQL over the features n_words, lang, rep3 and awl. Double
#: literals carry a ``D``: a bare SQL ``1.0`` is a DECIMAL.
_QUALITY_GATES: dict[str, str] = {
    "len_ok": f"n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}",
    "lang_ok": "lang IN ({})".format(
        ", ".join(f"'{lang}'" for lang in QUALITY_LANGS)
    ),
    "repetition_ok": f"rep3 <= {MAX_REPETITION}D",
    "word_len_ok": f"awl >= {MIN_AVG_WLEN}D AND awl <= {MAX_AVG_WLEN}D",
}


class QualityGates:
    """llm_quality_filter's gates and llm_quality_trend's per-source
    report as Column expressions, built once. Building a Column costs
    py4j round trips per node (``F.expr`` of any SQL costs 3), so a
    caller that scores many frames, such as each micro-batch of
    str_quality_monitor, builds one QualityGates before its stream
    starts. Batch and streaming twins share these expressions, so their
    verdicts can never desynchronize."""

    def __init__(self) -> None:
        self.words = F.expr(r"split(lower(text), '\\s+')")
        self.min_words = F.expr("size(__w) >= 3")
        # every 3-gram, repeats kept (word_shingles would dedup them)
        self.grams = F.expr(
            "transform(sequence(0, size(__w) - 3),"
            " i -> concat_ws(' ', slice(__w, i + 1, 3)))"
        )
        self.features = [
            F.expr("size(__w) AS n_words"),
            F.expr(
                "aggregate(transform(__w, x -> length(x)), 0,"
                " (acc, x) -> acc + x) / CAST(size(__w) AS DOUBLE) AS awl"
            ),
            F.expr(
                "1.0D - CAST(size(array_distinct(__g_all)) AS DOUBLE)"
                " / size(__g_all) AS rep3"
            ),
        ]
        self.gates = [
            F.expr(f"{sql} AS {name}") for name, sql in _QUALITY_GATES.items()
        ] + [
            # left-nested, as the Column form ``a & b & c & d`` is (the
            # SQL parser balances a flat AND chain)
            F.expr(
                reduce(
                    lambda acc, sql: f"({acc}) AND ({sql})",
                    _QUALITY_GATES.values(),
                )
                + " AS keep"
            )
        ]
        self.report_aggs = [
            F.expr("count(1) AS n_docs"),
            F.expr(
                "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass"
            ),
        ] + [
            F.expr(
                f"CAST(sum(CASE WHEN NOT {gate} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS {name}"
            )
            for gate, name in (
                ("len_ok", "n_len_fail"),
                ("lang_ok", "n_lang_fail"),
                ("repetition_ok", "n_rep_fail"),
                ("word_len_ok", "n_wlen_fail"),
            )
        ]
        self.report_cols = [
            "source",
            "n_docs",
            "n_pass",
            F.expr("n_pass * 1000000 div n_docs AS pass_rate_micro"),
            "n_len_fail",
            "n_lang_fail",
            "n_rep_fail",
            "n_wlen_fail",
        ]

    def flags(self, docs: DataFrame) -> DataFrame:
        """The gate flags of each (doc_id, lang, text, ...) row with at
        least 3 words; columns other than ``text`` and ``lang`` ride
        through. ``__w`` is its own projection, so each row is split
        once."""
        return (
            docs.withColumn("__w", self.words)
            .filter(self.min_words)
            .withColumn("__g_all", self.grams)
            .select("*", *self.features)
            .select("*", *self.gates)
            .drop("text", "lang", "__w", "__g_all", "n_words", "awl", "rep3")
        )

    def report(self, flags: DataFrame) -> DataFrame:
        """Per-source gated docs, passes, pass rate in micro-units and
        each gate's fail count, from ``flags`` with a ``source`` column."""
        return (
            flags.groupBy("source")
            .agg(*self.report_aggs)
            .select(*self.report_cols)
        )


@query(
    "llm_quality_trend",
    survey_id="LLM-9/ETL-6",
    oracle=rf"""
        WITH q AS ({_QUALITY_FILTER_ORACLE}),
        src AS (SELECT doc_id, source FROM documents)
        SELECT s.source,
               COUNT(*)                                              AS n_docs,
               CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_pass,
               CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT)                           AS pass_rate_micro,
               CAST(SUM(CASE WHEN NOT q.len_ok THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_len_fail,
               CAST(SUM(CASE WHEN NOT q.lang_ok THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_lang_fail,
               CAST(SUM(CASE WHEN NOT q.repetition_ok THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_rep_fail,
               CAST(SUM(CASE WHEN NOT q.word_len_ok THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_wlen_fail
        FROM q JOIN src s USING (doc_id)
        GROUP BY s.source
    """,
)
def llm_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-gate pass rates — the incoming-batch monitoring
    twin of llm_dedup_rate_trend: a source whose pass rate drifts down is
    degrading upstream (template change, scraper rot, spam influx), and
    the per-gate fail counts say WHICH gate moved before anyone reads a
    sample. One row per source: gated docs, passes, the pass rate in
    micro-units, and each gate's fail count. Denominators count docs the
    gates could evaluate (≥ 3 words — the same population
    llm_quality_filter reports).

    All-integer: counts and an exact floor rate, so the oracle matches
    bit-for-bit. Scale: llm_quality_filter's one narrow feature pass
    with ``source`` riding through, then one map-side-combinable agg to
    |sources| rows — one scan of documents, no join."""
    docs = load_table(spark, sf_dir, "documents")
    gates = QualityGates()
    return gates.report(
        gates.flags(docs.select("doc_id", "source", "lang", "text"))
    )


@query(
    "llm_quality_dedup_crosstab",
    survey_id="LLM-9/LLM-2/ETL-6",
    oracle=rf"""
        WITH q AS ({_QUALITY_FILTER_ORACLE}),
        toks AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(len(w) - {SHINGLE_K - 1}),
                       i -> array_to_string(w[i+1:i+{SHINGLE_K}], ' '))) AS sh
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= {SHINGLE_K}
        ), pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                  >= {JACCARD_TAU}
        ), dup_ids AS (
            SELECT DISTINCT doc_id FROM (
                SELECT da AS doc_id FROM pairs
                UNION ALL
                SELECT db AS doc_id FROM pairs
            )
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN COALESCE(q.keep, FALSE)
                        THEN 1 ELSE 0 END) AS BIGINT)     AS n_pass,
               CAST(SUM(CASE WHEN COALESCE(q.keep, FALSE)
                        THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT)                AS pass_rate_micro,
               CAST(SUM(CASE WHEN u.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT)     AS n_near_dup_docs,
               CAST(SUM(CASE WHEN u.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT)                AS dup_rate_micro,
               CAST(SUM(CASE WHEN NOT COALESCE(q.keep, FALSE)
                             AND u.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT)     AS n_dirty_and_dup,
               CAST(SUM(CASE WHEN NOT COALESCE(q.keep, FALSE)
                             AND u.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT)                AS dirty_and_dup_micro
        FROM documents d
        LEFT JOIN q ON d.doc_id = q.doc_id
        LEFT JOIN dup_ids u ON d.doc_id = u.doc_id
        GROUP BY d.source
    """,
)
def llm_quality_dedup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality × duplication decision table (VERDICT r8 #7):
    joins the quality-gate verdicts with the near-dup pair list and
    reduces to one row per source — the "which source is both dirty AND
    redundant" view that decides whether a source gets dropped (high
    dirty_and_dup), deduped (clean but redundant), or filtered (dirty
    but unique). Columns: docs, quality passes + rate, near-duplicated
    docs + rate, and the cross cell (fails the gates AND has a near-dup
    twin — the delete-first candidates) + its rate. A doc too short for
    the gates (< 3 words) counts as failing them — junk by definition.

    Scale: both parents are the shared cached artifacts (the quality
    feature pass is one narrow scan; the verified MinHash pair list is
    KBs of id pairs at any corpus size — llm_dedup_degree_report's
    argument); this adds two id-keyed left joins and one
    map-side-combinable agg to |sources| rows. All-integer columns with
    exact floor rates, so the oracle matches bit-for-bit (the pair
    list's banding recall at J ≥ 0.8 is the documented ≥ 0.9997, same
    as every other oracle built on it)."""
    from .dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    qf = llm_quality_filter(spark, sf_dir).select("doc_id", "keep")
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    joined = (
        docs.join(qf, "doc_id", "left")
        .join(dup_ids, "doc_id", "left")
        .select(
            "source",
            F.coalesce("keep", F.lit(False)).alias("__pass"),
            F.coalesce("__dup", F.lit(False)).alias("__isdup"),
        )
    )
    agged = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        F.sum(F.when(F.col("__isdup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_dup_docs"),
        F.sum(F.when(~F.col("__pass") & F.col("__isdup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dirty_and_dup"),
    )
    return agged.select(
        "source",
        "n_docs",
        "n_pass",
        F.expr("n_pass * 1000000 div n_docs").alias("pass_rate_micro"),
        "n_near_dup_docs",
        F.expr("n_near_dup_docs * 1000000 div n_docs").alias(
            "dup_rate_micro"
        ),
        "n_dirty_and_dup",
        F.expr("n_dirty_and_dup * 1000000 div n_docs").alias(
            "dirty_and_dup_micro"
        ),
    )


#: Tiny per-language stopword marker lists for the n-gram/stopword
#: language-ID heuristic. Order fixes the argmax tiebreak.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de", "le", "shi", "he"),
}


def _lang_score_cols_sql() -> str:
    """Per-language marker-count columns, GENERATED from LANG_MARKERS so
    every oracle that scores languages (llm_lang_id, ag_cohens_kappa)
    derives from the single marker definition (review finding, round 7:
    a verbatim copy could silently desynchronize from the detector)."""
    return ",\n                   ".join(
        f"len(list_filter(w, x -> x IN "
        f"({', '.join(repr(m) for m in markers)}))) AS c_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )


def _lang_argmax_case_sql() -> str:
    """The fixed-preference-order argmax as a CASE chain, generated from
    LANG_MARKERS' key order."""
    langs = list(LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(f"c_{x}" for x in langs[i + 1 :])
        cmp = f"GREATEST({rest})" if "," in rest else rest
        whens.append(f"WHEN c_{lang} >= {cmp} THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"


_LANG_SCORED_CTE = rf"""
        scored AS (
            SELECT doc_id, lang AS labeled_lang,
                   {_lang_score_cols_sql()}
            FROM (SELECT doc_id, lang,
                         string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
        )
"""


@query(
    "llm_lang_id",
    survey_id="LLM-7",
    oracle=f"""
        WITH {_LANG_SCORED_CTE}
        SELECT doc_id, labeled_lang,
               {_lang_argmax_case_sql()} AS guessed_lang,
               {' + '.join(f'c_{lang}' for lang in LANG_MARKERS)}
                   AS n_marker_hits
        FROM scored
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic: count per-language marker
    words, argmax with a fixed preference order for ties. NOTE: the test
    corpus is synthetic English-vocabulary salad for every lang label, so
    the guess is mechanically correct but semantically degenerate here —
    on real multilingual text the same operator separates languages; the
    oracle verifies the scoring/argmax machinery exactly."""
    docs = load_table(spark, sf_dir, "documents")
    w = normalized_words(F.col("text"))
    counts = {
        lang: F.size(F.filter(w, lambda x: x.isin(*markers))).alias(f"c_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *counts.values())
    guess = (
        F.when(
            F.col("c_en") >= F.greatest("c_de", "c_es", "c_fr", "c_zh"), "en"
        )
        .when(F.col("c_de") >= F.greatest("c_es", "c_fr", "c_zh"), "de")
        .when(F.col("c_es") >= F.greatest("c_fr", "c_zh"), "es")
        .when(F.col("c_fr") >= F.col("c_zh"), "fr")
        .otherwise("zh")
    )
    total = sum(
        (F.col(f"c_{lang}") for lang in list(LANG_MARKERS)[1:]),
        F.col(f"c_{list(LANG_MARKERS)[0]}"),
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        guess.alias("guessed_lang"),
        total.alias("n_marker_hits"),
    )


#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE session-scoped materialized token-count frame: one row per
    document with (doc_id, source, lang, n_chars, n_words, n_tokens),
    written ONCE per (session, corpus) to app-scoped warehouse scratch
    and read back by every consumer. Eight registered queries need the
    TOKEN_PATTERN count over the full text (token_count, fertility,
    context-length histogram, token gini, sequence pack, pack lineage,
    pack bins/efficiency, shard skew); paying the regexp scan — ~97% of
    llm_pack_bins' 24 s at sf10 (SCALE.md, VERDICT r8 #2) — once per
    SESSION instead of once per QUERY is the production layout: at
    100 TB the counts frame is ~30 bytes/doc (ids + three ints — never
    text), and every monitoring query after the first becomes a narrow
    parquet scan. Counts are integers computed by the exact expressions
    the consumers previously inlined (regexp_count / size(split) /
    length), so every downstream result is bit-identical to the
    pre-memo plans.

    The frame is a ``token_counts`` store (sources/store.py): keyed by
    app id (concurrent sessions never collide) and corpus (a fixture
    regenerated mid-session gets new counts instead of stale ones)."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.length("text").alias("n_chars"),
            F.size(normalized_words(F.col("text"))).alias("n_words"),
            F.regexp_count(F.lower("text"), F.lit(TOKEN_PATTERN)).alias(
                "n_tokens"
            ),
        ).write.mode("overwrite").parquet(path)

    return spark.read.parquet(
        write_once(
            store_path(spark, "token_counts", f"{sf_dir}/documents.parquet"),
            build,
        )
    )


@query(
    "llm_effective_tokens",
    survey_id="LLM-2/LLM-7/ETL-6",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(len(w) - {SHINGLE_K - 1}),
                       i -> array_to_string(w[i+1:i+{SHINGLE_K}], ' '))) AS sh
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= {SHINGLE_K}
        ), pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                  >= {JACCARD_TAU}
        ), dropped AS (
            SELECT DISTINCT db AS doc_id FROM pairs
        ), tc AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                       AS n_tokens
            FROM documents
        )
        SELECT tc.source,
               COUNT(*)                           AS n_docs,
               CAST(SUM(tc.n_tokens) AS BIGINT)   AS n_tokens,
               CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)                    AS n_dropped_docs,
               CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN tc.n_tokens
                        ELSE 0 END) AS BIGINT)    AS n_dropped_tokens,
               CAST(SUM(CASE WHEN d.doc_id IS NULL THEN tc.n_tokens
                        ELSE 0 END) AS BIGINT)    AS effective_tokens,
               CAST(SUM(CASE WHEN d.doc_id IS NULL THEN tc.n_tokens
                        ELSE 0 END) * 1000000
                    // SUM(tc.n_tokens) AS BIGINT) AS retention_micro
        FROM tc LEFT JOIN dropped d USING (doc_id)
        GROUP BY tc.source
        HAVING SUM(tc.n_tokens) > 0
    """,
)
def llm_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective token count per source AFTER near-dup pruning — the
    number a budget planner actually trains on, versus the raw count a
    naive `du -sh` suggests: raw tokens, tokens lost to the dedup
    pass, the surviving effective tokens, and the retention rate. A
    source with high raw volume but low retention contributes far
    fewer unique tokens than its storage bill implies (the
    data-constrained-scaling input; cross-check llm_epoch_budget, which
    allocates on unique counts). The prune rule is keep-lowest-id per
    verified pair (every doc_b of a (doc_a < doc_b) pair drops) — the
    deterministic greedy that over-drops chain middles slightly versus
    full cluster representatives; the clustering query owns the exact
    component view.

    Scale: both inputs are the round's shared cached artifacts — the
    session-memoized token-count frame (one narrow parquet pass) and
    the density-bounded verified pair list (id pairs, KBs at any
    corpus size); this adds one id-keyed left join and one
    map-side-combinable agg to |sources| rows. All-integer with an
    exact floor rate — bit-exact against the oracle."""
    from .dedup import minhash_near_dup_pairs

    tc = token_counts(spark, sf_dir).select("doc_id", "source", "n_tokens")
    dropped = (
        minhash_near_dup_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    joined = tc.join(dropped, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce("__drop", F.lit(False)).alias("__drop"),
    )
    agged = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_docs"),
        F.sum(F.when(F.col("__drop"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_tokens"),
        F.sum(F.when(~F.col("__drop"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("effective_tokens"),
    )
    return agged.filter(F.col("n_tokens") > 0).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_dropped_docs",
        "n_dropped_tokens",
        "effective_tokens",
        # The scale-up runs in decimal(38,0), not int64: with ANSI off
        # effective_tokens * 1e6 silently wraps once a source passes
        # ~9.2e12 tokens — in range at the 100 TB design point (~2.5e13
        # tokens of text) — while the DuckDB oracle promotes to HUGEINT
        # (round-9 review finding; same guard as fertility_micro).
        F.expr(
            "cast(cast(effective_tokens as decimal(38,0)) * 1000000"
            " div n_tokens as bigint)"
        ).alias("retention_micro"),
    )


@query(
    "llm_token_count",
    survey_id="LLM-7",
    oracle=rf"""
        SELECT doc_id,
               len(string_split_regex(lower(text), '\s+'))          AS ws_tokens,
               len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS bpe_ish_tokens,
               ROUND(length(text)::DOUBLE
                     / len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')), 6)
                   AS chars_per_token
        FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / symbols) — the budget
    estimator every training-data pipeline runs before tokenizing."""
    tc = token_counts(spark, sf_dir)
    return tc.select(
        "doc_id",
        F.col("n_words").alias("ws_tokens"),
        F.col("n_tokens").alias("bpe_ish_tokens"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 6
        ).alias("chars_per_token"),
    )


@query(
    "llm_tokenizer_fertility",
    survey_id="LLM-7/LLM-8",
    oracle=rf"""
        WITH toks AS (
            SELECT lang, source,
                   len(string_split_regex(lower(text), '\s+'))             AS n_words,
                   len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_tokens
            FROM documents
        )
        SELECT lang, source,
               COUNT(*)                                   AS n_docs,
               CAST(SUM(n_words) AS BIGINT)               AS n_words,
               CAST(SUM(n_tokens) AS BIGINT)              AS n_tokens,
               CAST(SUM(n_tokens) * 1000000 // SUM(n_words)
                    AS BIGINT)                            AS fertility_micro
        FROM toks WHERE n_words > 0
        GROUP BY lang, source
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): BPE-ish subword tokens per
    whitespace word — the compression-quality number a multilingual
    pretraining team reads per language before fixing a token budget (a
    language whose fertility runs 2x English pays 2x the context window
    for the same text; a source whose fertility drifts up is degrading
    into symbol soup). Corpus-level ratio (Σtokens / Σwords), not a mean
    of per-doc ratios, so long docs weigh what they cost.

    All-integer: both counts are regex/split cardinalities and the ratio
    is an exact floor in micro-units, so the oracle matches bit-for-bit.
    Scale: one narrow two-count scan (no explode — the whole doc reduces
    to two ints map-side), one map-side-combinable agg to |lang|x|source|
    rows. No join, no window, no text past the counts."""
    counted = (
        token_counts(spark, sf_dir)
        .select("lang", "source", "n_words", "n_tokens")
        .filter(F.col("n_words") > 0)
    )
    return (
        counted.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            # The scale-up runs in decimal(38,0), not int64: with ANSI off
            # n_tokens * 1e6 silently wraps once a (lang, source) group
            # passes ~9.2e12 tokens — plausible at the 100 TB design
            # point — while the DuckDB oracle promotes to HUGEINT
            # (round-8 review finding; same guard as llm_token_gini).
            F.expr(
                "cast(cast(n_tokens as decimal(38,0)) * 1000000"
                " div n_words as bigint)"
            ).alias("fertility_micro"),
        )
    )


@query(
    "llm_context_length_histogram",
    survey_id="LLM-7/LLM-11",
    oracle=rf"""
        WITH toks AS (
            SELECT len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                       AS n_tokens
            FROM documents
        )
        SELECT CAST(length(bin(n_tokens)) - 1 AS INT) AS log2_bucket,
               COUNT(*)                               AS n_docs,
               CAST(MIN(n_tokens) AS BIGINT)          AS min_tokens,
               CAST(MAX(n_tokens) AS BIGINT)          AS max_tokens,
               CAST(SUM(n_tokens) AS BIGINT)          AS total_tokens
        FROM toks WHERE n_tokens > 0
        GROUP BY 1
    """,
)
def llm_context_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document token-length distribution in power-of-two buckets — the
    panel a pretraining team reads before choosing SEQ_LEN: the mass
    above the context length is truncation loss, the mass far below it
    is padding/packing pressure (cross-check llm_pack_efficiency). One
    row per occupied log2 bucket with doc count and min/max/total
    tokens.

    Integer discipline: the bucket is floor(log2(n)) computed as
    length(bin(n)) − 1 — bit-length arithmetic, not float log2, because
    a last-ulp log2 difference at an exact power of two would move a doc
    one bucket across engines. Scale: one narrow token-count pass, one
    map-side-combinable agg to ≤ 64 rows. No join, no window, no text
    past the count."""
    toks = (
        token_counts(spark, sf_dir)
        .select("n_tokens")
        .filter(F.col("n_tokens") > 0)
    )
    return (
        toks.withColumn(
            "log2_bucket",
            (F.length(F.bin(F.col("n_tokens"))) - 1).cast("int"),
        )
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "llm_token_gini",
    survey_id="LLM-7/ETL-6",
    oracle=rf"""
        WITH toks AS (
            SELECT source,
                   len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                       AS n_tokens
            FROM documents
        ), ranked AS (
            SELECT source, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens)
                       AS i
            FROM toks
        )
        SELECT source,
               COUNT(*)                        AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT)   AS total_tokens,
               CAST((2 * SUM(i * n_tokens) - (COUNT(*) + 1) * SUM(n_tokens))
                    * 1000000 // (COUNT(*) * SUM(n_tokens))
                    AS BIGINT)                 AS gini_micro
        FROM ranked
        GROUP BY source
        HAVING SUM(n_tokens) > 0
    """,
)
def llm_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini concentration of document token counts — the
    "is this source a long tail of stubs plus a few megadocs" number: 0
    means every doc contributes equal tokens, values near 1 mean a few
    docs carry the source (so doc-level sampling and token-level mixture
    weights will disagree badly — cross-check
    llm_mixture_temperature_weights, which weights by tokens). One row
    per source: docs, total tokens, and the exact Gini in micro-units
    via the sorted-rank identity G = (2*Sum(i*x_i) - (n+1)*Sum(x))
    / (n*Sum(x)).

    Tie discipline: rank ties (equal token counts) permute only equal
    x_i values, so Sum(i*x_i) is invariant under either engine's tie
    order — no tiebreak column needed for bit-equality. Overflow: the
    scaled numerator can pass int64 at the decade SFs, so both engines
    accumulate in wide integers (DuckDB SUM is int128; Spark folds in
    decimal(38,0)) before one exact floor division. Scale: one narrow
    token-count scan, then the per-source rank comes from the shared
    TWO-PHASE global rank over (source, n_tokens) minus a broadcast
    per-source offset — a range exchange where no task sees more than
    ~N/partitions rows, NOT a partitionBy(source) window (which would
    sort an entire source in one task — a multi-TB task at 100 TB with
    few sources); then one map-side-combinable agg to |sources| rows.
    (Range partitioning keeps equal keys in one partition, so tied rows
    get distinct consecutive ranks — row_number semantics, and the sums
    above are invariant to their order.)

    The counts come from the session-memoized token_counts frame, which
    is already MATERIALIZED parquet — so repartitionByRange's
    bounds-sampling job (which executes its child in full) re-reads a
    narrow 30-byte/doc scan, never the regexp pass (the round-8 form
    localCheckpointed a per-call frame to get the same property;
    measured then at the sf10 decade: 24.5 s cold -> 12.0 s)."""
    from .windows import two_phase_global_rank

    toks = token_counts(spark, sf_dir).select("source", "n_tokens")
    g_ranked, _ = two_phase_global_rank(toks, ["source", "n_tokens"])
    offsets = g_ranked.groupBy("source").agg(F.min("rank").alias("first_rank"))
    ranked = g_ranked.join(F.broadcast(offsets), "source").withColumn(
        "i", (F.col("rank") - F.col("first_rank") + 1).cast("bigint")
    )
    agged = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # The casts sit on the OPERANDS, not post-product or post-agg:
        # sum(i*x) ~ n^2*mean(x)/2 passes 2^63 near ~2e9 docs/source, and
        # even a single row's i*x wraps in int64 once a high-rank row
        # (i ~ 1e10) meets a megadoc token count (x ~ 1e9) — casting the
        # finished product would wrap BEFORE the decimal ever saw it
        # (round-8/9 review findings). With a decimal(38,0) operand the
        # multiply and the fold both run decimal-wide.
        F.sum(F.col("n_tokens").cast("decimal(38,0)")).alias("t_sum"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("n_tokens")).alias(
            "s_sum"
        ),
    )
    return agged.filter(F.col("t_sum") > 0).select(
        "source",
        "n_docs",
        F.col("t_sum").cast("bigint").alias("total_tokens"),
        F.expr(
            "cast((2 * s_sum - (cast(n_docs as decimal(38,0)) + 1) * t_sum)"
            " * 1000000 div (cast(n_docs as decimal(38,0)) * t_sum) as bigint)"
        ).alias("gini_micro"),
    )


FINGERPRINT_K = 4
FINGERPRINT_SKETCH = 5


@query(
    "llm_fingerprint",
    survey_id="LLM-7",
    oracle=rf"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(len(w) - {FINGERPRINT_K - 1}),
                       i -> array_to_string(w[i+1:i+{FINGERPRINT_K}], ' ')))) AS shingle
            FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= {FINGERPRINT_K}
        ), hashed AS (
            SELECT doc_id, md5(shingle) AS h FROM sh
        )
        SELECT doc_id,
               MIN(h)                                   AS fingerprint,
               array_to_string(list_sort(list(h))[1:{FINGERPRINT_SKETCH}], ',')
                                                        AS sketch
        FROM hashed GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-lite): hash every 4-word shingle
    with md5, keep the lexicographic min as the fingerprint plus the 5
    smallest as a sketch. Two docs sharing a fingerprint almost surely
    share content; the sketch gives a containment estimate. md5 (not
    xxhash64) keeps the oracle cross-engine (SURVEY §5.3)."""
    docs = load_table(spark, sf_dir, "documents")
    w = normalized_words(F.col("text"))
    shingled = (
        docs.withColumn("__w", w)
        .filter(F.size("__w") >= FINGERPRINT_K)
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("__w"), FINGERPRINT_K)).alias("shingle"),
        )
        .withColumn("h", F.md5("shingle"))
    )
    return shingled.groupBy("doc_id").agg(
        F.min("h").alias("fingerprint"),
        # CSV-serialized for driver-canonicalizer parity (arrays crash it);
        # the sketch is still computed as a real sorted array upstream.
        F.concat_ws(
            ",", F.slice(F.sort_array(F.collect_list("h")), 1, FINGERPRINT_SKETCH)
        ).alias("sketch"),
    )


SAMPLE_FRACTIONS = {"en": 0.5, "fr": 0.5, "es": 0.25, "de": 0.25, "zh": 0.1}


@query(
    "llm_stratified_sample",
    survey_id="LLM-9/ETL-3",
    oracle=r"""
        SELECT lang, doc_id
        FROM documents
        WHERE CASE lang
                WHEN 'en' THEN 0.5  WHEN 'fr' THEN 0.5
                WHEN 'es' THEN 0.25 WHEN 'de' THEN 0.25
                ELSE 0.1 END
              * 4294967296
              > (('0x' || substr(md5(doc_id::VARCHAR || ':strat42'), 1, 8))::BIGINT)::DOUBLE
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language fractions applied by
    hashing each doc's unique id into [0, 1) — the leak-free, re-runnable
    down-sampling every training-data pipeline needs (vs `sampleBy`, whose
    RNG stream is partitioning-dependent and has no cross-engine twin).

    The uniform variate is the first 32 bits of md5(doc_id || salt) — so
    BOTH engines compute the identical sample, and the oracle is exact,
    not statistical. Changing the salt draws a fresh sample; keys never
    move between strata on re-runs. Shuffle-free (pure filter)."""
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat42"))), 1, 8), 16, 10).cast("double")
    frac = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(f)) for lang, f in SAMPLE_FRACTIONS.items() if lang != "zh"],
        F.lit(0.1),
    )
    return docs.filter(frac * F.lit(4294967296.0) > u32).select("lang", "doc_id")


REPETITION_NGRAM = 3  # Gopher-style duplicate-3-gram signal
REPETITION_MAX_DUP = 0.02  # keep docs whose duplicate-shingle fraction stays below


@query(
    "llm_repetition_filter",
    survey_id="LLM-9",
    oracle=r"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
            FROM documents
        )
        SELECT doc_id, len(w) AS n_words,
               CASE WHEN len(w) >= 3 THEN
                   ROUND(1.0 - len(list_distinct(list_transform(
                       range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' ')
                   ))) * 1.0 / (len(w) - 2), 6)
               ELSE 0.0 END AS dup3_frac
        FROM t
        WHERE CASE WHEN len(w) >= 3 THEN
                  ROUND(1.0 - len(list_distinct(list_transform(
                      range(len(w) - 2),
                      i -> array_to_string(w[i+1:i+3], ' ')
                  ))) * 1.0 / (len(w) - 2), 6)
              ELSE 0.0 END < 0.02
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (the MassiveText/Gopher "repeated
    n-gram fraction" quality signal): a doc whose 3-word shingles repeat
    heavily is boilerplate/spam and gets dropped before training.

    The duplicate fraction is computed entirely inside one Catalyst
    projection — split → shingle → array_distinct — so the operator is a
    SHUFFLE-FREE narrow map over the corpus: at 100 TB it runs at scan
    speed with full column pruning, no exploded shingle rows ever hit a
    shuffle (unlike the posting-list dedup ops, which need cross-doc
    visibility; repetition is per-doc by definition).

    Shingling is `arrays_zip` over shifted `slice`s (each 3-gram is a
    struct of 3 aligned words), NOT a `transform(sequence, λ)` lambda:
    higher-order-function lambdas are interpreted per element and
    measured 11× slower at sf0.1 (8.3 s → 0.75 s); the zip form stays a
    flat codegen-friendly expression and, as a struct, needs no string
    re-allocation (and can't collide the way concat_ws shingles can).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    n = F.size(words)
    shingles = F.slice(
        F.arrays_zip(
            words.alias("a"),
            F.slice(words, 2, n).alias("b"),
            F.slice(words, 3, n).alias("c"),
        ),
        1,
        n - F.lit(REPETITION_NGRAM - 1),
    )
    dup_frac = F.when(
        n >= REPETITION_NGRAM,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(shingles))
            / (n - F.lit(REPETITION_NGRAM - 1)).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        docs.select(
            "doc_id", n.alias("n_words"), dup_frac.alias("dup3_frac")
        )
        .filter(F.col("dup3_frac") < REPETITION_MAX_DUP)
    )


BOILERPLATE_NGRAM = 3  # corpus-level duplicate n-gram length
BOILERPLATE_MIN_DOCS = 5  # shingle is boilerplate if it appears in >= N docs


@query(
    "llm_boilerplate_ngrams",
    survey_id="LLM-9/LLM-2",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS sh
            FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= 3
        ), exploded AS (
            SELECT doc_id, unnest(sh) AS shingle FROM t
        ), hot AS (
            SELECT shingle FROM exploded
            GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 5
        )
        SELECT e.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(h.shingle) AS n_boilerplate,
               ROUND(COUNT(h.shingle) * 1.0 / COUNT(*), 6) AS bp_frac
        FROM exploded e LEFT JOIN hot h ON e.shingle = h.shingle
        GROUP BY e.doc_id
        HAVING COUNT(h.shingle) > 0
    """,
)
def llm_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection (the C4 "repeated across the
    corpus" signal, complementing llm_repetition_filter's within-doc
    signal): a distinct 3-gram occurring in ≥ BOILERPLATE_MIN_DOCS docs is
    boilerplate (headers, footers, license blurbs); each doc reports what
    fraction of its distinct shingles are boilerplate — the input to a
    strip-or-drop cleaning decision.

    Scale shape: explode distinct shingles (map-side), ONE groupBy to get
    per-shingle doc frequency (partial aggregation collapses repeats
    before the shuffle), then a broadcast-able hot-set join back — the hot
    set is tiny BY CONSTRUCTION (df ≥ N shrinks super-linearly with N), so
    the fact-side explode never shuffles twice. At 100 TB the same plan
    holds: the only wide op carries (shingle-hash, doc_id) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    # round 12: per-doc distinct shingles via the shingle_postings Arrow
    # kernel (bit-identical rows to the interpreted word_shingles build —
    # the kernel's pinned-equivalence contract; A/B median 1.41 s vs
    # 1.98 s catalyst at sf0.1. Lineage truncation was ALSO measured
    # here and rejected: the two consumers re-run only the cheap kernel,
    # and the materialization job costs what it saves).
    from .dedup import shingle_postings

    src = fan_out_small_input(
        spark,
        docs.select("doc_id", "text"),
        input_bytes(spark, f"{sf_dir}/documents.parquet"),
    )
    exploded = shingle_postings(spark, src, BOILERPLATE_NGRAM).select(
        "doc_id", F.col("sh").alias("shingle")
    )
    hot = (
        # shingles are array_distinct'd per doc upstream, so plain COUNT
        # IS the doc frequency — no count_distinct dedup exchange needed
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILERPLATE_MIN_DOCS)
        .select("shingle")
    )
    return (
        exploded.join(F.broadcast(hot.withColumn("__hot", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hot").alias("n_boilerplate"),
            F.round(F.count("__hot") / F.count(F.lit(1)), 6).alias("bp_frac"),
        )
        .filter(F.col("n_boilerplate") > 0)
    )


#: Minimal AFINN-style valence lexicon (public-domain word list pattern);
#: a production run broadcasts the full ~3k-word table the same way.
SENTIMENT_LEXICON = {
    "good": 3, "great": 3, "excellent": 4, "love": 3, "best": 3,
    "happy": 3, "nice": 2, "better": 2, "amazing": 4, "win": 2,
    "bad": -3, "terrible": -4, "hate": -3, "worst": -3, "awful": -4,
    "sad": -2, "poor": -2, "worse": -2, "broken": -2, "fail": -2,
}


def _sentiment_values_sql() -> str:
    rows = ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON.items())
    return f"(VALUES {rows}) lex(word, score)"


@query(
    "llm_sentiment_lexicon",
    survey_id="LLM-7/LLM-9",
    oracle=rf"""
        WITH words AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents
        ), hits AS (
            SELECT words.doc_id, lex.score
            FROM words JOIN {_sentiment_values_sql()} ON words.w = lex.word
        )
        SELECT d.doc_id,
               COALESCE(h.n_hits, 0)                 AS n_hits,
               COALESCE(h.sentiment, 0)              AS sentiment,
               CASE WHEN COALESCE(h.sentiment, 0) > 0 THEN 'positive'
                    WHEN COALESCE(h.sentiment, 0) < 0 THEN 'negative'
                    ELSE 'neutral' END               AS label
        FROM documents d
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_hits,
                   CAST(SUM(score) AS BIGINT) AS sentiment
            FROM hits GROUP BY doc_id
        ) h USING (doc_id)
    """,
)
def llm_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the EDBT'16 Spark-at-scale shape):
    per-doc valence = sum of matched lexicon word scores, with a
    positive/neutral/negative label. The integer-sum formulation (not a
    float average) keeps the oracle exact.

    Scale: the lexicon is a literal in-plan table BROADCAST to every
    task, so the corpus is scored in a map-only pass — the exploded words
    never shuffle on the (stopword-skewed) word key; the only exchange is
    the per-doc aggregate, map-side combined. Swapping in a real 3k-word
    AFINN table changes nothing structurally."""
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        list(SENTIMENT_LEXICON.items()), "word string, score int"
    )
    words = docs.select(
        "doc_id", F.explode(normalized_words(F.col("text"))).alias("w")
    )
    scored = (
        words.join(F.broadcast(lex), words.w == lex.word)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("score").cast("bigint").alias("sentiment"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("sentiment", F.lit(0)).alias("sentiment"),
            F.when(F.coalesce("sentiment", F.lit(0)) > 0, "positive")
            .when(F.coalesce("sentiment", F.lit(0)) < 0, "negative")
            .otherwise("neutral")
            .alias("label"),
        )
    )


@query(
    "llm_quality_percentile_filter",
    survey_id="LLM-9",
    oracle=r"""
        WITH scored AS (
            SELECT doc_id, lang,
                   ROUND(len(list_distinct(w)) / len(w)::DOUBLE, 6) AS ttr
            FROM (SELECT doc_id, lang,
                         string_split_regex(lower(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= 1
        ), thresholds AS (
            SELECT lang, ROUND(quantile_cont(ttr, 0.75), 6) AS ttr_p75
            FROM scored GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.ttr, t.ttr_p75
        FROM scored s JOIN thresholds t USING (lang)
        WHERE s.ttr >= t.ttr_p75
    """,
)
def llm_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language DYNAMIC quality gate: keep each language's top quartile
    by type-token ratio — thresholds adapt to the corpus instead of the
    hand-tuned constants of llm_quality_filter, the usual second-pass
    refinement in production quality pipelines.

    Scale shape deliberately avoids the per-lang percent_rank window
    (|langs| is tiny, so a lang-partitioned window is the max-skew shape):
    per-lang exact interpolated percentiles reduce via ONE partial-agg
    shuffle to |langs| rows, which broadcast-join back onto the scored
    stream — the heavy side never reorders. At 100 TB swap F.percentile
    for approx_percentile(score, 0.75, eps) with identical plumbing;
    scores are pre-rounded to 6 dp so both engines interpolate from
    identical inputs."""
    docs = load_table(spark, sf_dir, "documents")
    w = normalized_words(F.col("text"))
    scored = docs.select(
        "doc_id", "lang", type_token_ratio(w).alias("ttr")
    ).filter(F.size(w) >= 1)
    thresholds = scored.groupBy("lang").agg(
        F.round(F.percentile("ttr", F.lit(0.75)), 6).alias("ttr_p75")
    )
    return scored.join(F.broadcast(thresholds), "lang").filter(
        F.col("ttr") >= F.col("ttr_p75")
    ).select("doc_id", "lang", "ttr", "ttr_p75")


COMPRESSION_NGRAM = 4  # LZ78-proxy phrase length (character 4-grams)
COMPRESSION_LOW = 0.35  # ratio gate (corpus range 0.50-1.27, median 0.70)


@query(
    "llm_compression_ratio",
    survey_id="LLM-9",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id, COALESCE(text, '') AS text FROM documents
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_units,
               CAST(len(list_distinct(list_transform(
                   range(greatest(length(text) - {COMPRESSION_NGRAM - 1}, 0)),
                   i -> substring(text, i + 1, {COMPRESSION_NGRAM})
               ))) AS BIGINT) AS n_distinct_4grams,
               CAST(len(list_distinct(list_transform(
                   range(length(text)), i -> substring(text, i + 1, 1)
               ))) AS BIGINT) AS n_distinct_chars,
               CASE WHEN length(text) >= {COMPRESSION_NGRAM} THEN
                   ROUND((len(list_distinct(list_transform(
                       range(length(text) - {COMPRESSION_NGRAM - 1}),
                       i -> substring(text, i + 1, {COMPRESSION_NGRAM})
                   ))) + len(list_distinct(list_transform(
                       range(length(text)), i -> substring(text, i + 1, 1)
                   ))))::DOUBLE / length(text), 6)
               END AS compression_ratio,
               (length(text) < {COMPRESSION_NGRAM}
                OR (len(list_distinct(list_transform(
                        range(length(text) - {COMPRESSION_NGRAM - 1}),
                        i -> substring(text, i + 1, {COMPRESSION_NGRAM})
                    ))) + len(list_distinct(list_transform(
                        range(length(text)), i -> substring(text, i + 1, 1)
                    ))))::DOUBLE / length(text) < {COMPRESSION_LOW})
                   AS is_low_entropy
        FROM t
    """,
)
def llm_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal via an LZ78-DICTIONARY PROXY:
    estimated compressed size = |distinct character 4-grams| + |alphabet|
    (the phrase-dictionary + literal-table cost of an LZ78 coder), ratio =
    estimate / character count. Highly repetitive/boilerplate text keeps a
    tiny phrase dictionary and scores near 0; varied prose scores 0.5-1.3.

    Round 6 (VERDICT r5 #4): this replaces the zlib kernel — zlib itself
    is provably not SQL-recomputable (DuckDB exposes no DEFLATE), but the
    dictionary-growth proxy measures the same redundancy: Pearson r =
    0.983 against zlib level-6 ratios on the graded corpus, and the
    planted repetitive/varied ordering (0.010 vs 0.715) is preserved —
    so the operator gains a full hash oracle at no loss of signal. A
    deployment that wants the exact DEFLATE number swaps one projection
    for the old Arrow zlib kernel (git history, round 3) and pays the
    rows-only check.

    Exactness: every quantity is an integer count (distinct structs of 4
    chars ↔ distinct 4-char substrings bijectively); the single float op
    is one division of identical integers, rounded at 6 dp. Docs shorter
    than the n-gram (and null text, bucketed as empty) have no defined
    ratio → NULL, flagged low-entropy by definition on both engines.

    Scale shape: the distinct counting is an Arrow kernel (mapInPandas,
    Python set-of-slices per doc) — MEASURED at sf0.1: 0.51 s vs 4.34 s
    for the Catalyst split → shifted-slice arrays_zip → array_distinct
    form (struct-of-4-strings hashing dominates; an int-struct variant
    via transform(ascii) measured 5.2 s — the HOF tax). Same precedent
    as the BLAS cosine kernels: when the built-in loses 8× on its own
    turf, the Arrow kernel is the scale answer. Zero shuffle either
    way; only ids + 3 integer counts leave the worker. The final
    ratio/flag arithmetic stays JVM-side (try_divide: ANSI throws on /0
    for empty docs; NULL matches DuckDB's x/0 there, and (n < 4) | NULL
    is still true)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _count_batches(batches):
        k = COMPRESSION_NGRAM
        for pdf in batches:
            texts = pdf["text"].fillna("")
            out = pdf[["doc_id"]].copy()
            ns, d4s, d1s = [], [], []
            for t in texts:
                ns.append(len(t))
                d4s.append(
                    len({t[i : i + k] for i in range(len(t) - k + 1)})
                    if len(t) >= k
                    else 0
                )
                d1s.append(len(set(t)))
            out["n_units"] = ns
            out["n_distinct_4grams"] = d4s
            out["n_distinct_chars"] = d1s
            yield out

    counted = docs.mapInPandas(
        _count_batches,
        "doc_id bigint, n_units bigint, n_distinct_4grams bigint, "
        "n_distinct_chars bigint",
    )
    n = F.col("n_units")
    d4 = F.col("n_distinct_4grams")
    d1 = F.col("n_distinct_chars")
    ratio = F.when(
        n >= COMPRESSION_NGRAM,
        F.round(F.try_divide((d4 + d1).cast("double"), n), 6),
    )
    return counted.select(
        "doc_id",
        "n_units",
        "n_distinct_4grams",
        "n_distinct_chars",
        ratio.alias("compression_ratio"),
        (
            (n < COMPRESSION_NGRAM)
            | (F.try_divide((d4 + d1).cast("double"), n) < COMPRESSION_LOW)
        ).alias("is_low_entropy"),
    )


@query(
    "llm_dataset_card",
    survey_id="LLM-7/ETL-6",
    oracle=r"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT)                  AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT)    AS n_sources,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
               CAST(SUM(len(string_split_regex(lower(text), '\s+')))
                    AS BIGINT)                           AS total_tokens,
               ROUND(AVG(len(string_split_regex(lower(text), '\s+'))), 4)
                   AS avg_tokens,
               ROUND(quantile_cont(
                   len(string_split_regex(lower(text), '\s+')), 0.5), 4)
                   AS median_tokens,
               MIN(n_chars)                              AS min_chars,
               MAX(n_chars)                              AS max_chars
        FROM documents
        GROUP BY lang
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics: the per-language summary block every
    released training corpus publishes — document/source counts, exact
    duplication headroom (unique text hashes vs rows), token totals and
    distribution, and char-length extremes — computed in ONE pass so the
    card never drifts from the data it describes.

    Scale: a single hash aggregation over the lang key; the two COUNT
    DISTINCTs expand to the standard two-phase distinct aggregate
    (partial distinct per partition before the exchange), the exact
    median is a per-group sort of token counts (5 groups — for
    high-cardinality grouping swap percentile_approx per AG-7), and the
    token counting is a narrow JVM split/size, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(normalized_words(F.col("text")))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.sum(n_tokens).alias("total_tokens"),
        F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
        F.round(F.percentile(n_tokens, F.lit(0.5)), 4).alias(
            "median_tokens"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


BPE_TOP_PAIRS = 30


@query(
    "llm_bpe_merge_candidates",
    survey_id="LLM-8",
    oracle=rf"""
        WITH words AS (
            SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents
        ), vocab AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
            FROM words WHERE len(w) >= 2 GROUP BY w
        ), pairs AS (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> substring(w, i, 2))) AS pair,
                   freq
            FROM vocab
        )
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
        QUALIFY ROW_NUMBER() OVER (
            ORDER BY SUM(freq) DESC, pair
        ) <= {BPE_TOP_PAIRS}
    """,
)
def llm_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge candidates: the corpus's top adjacent character-pair
    frequencies, weighted by word frequency — exactly what byte-pair-
    encoding training consumes on its first merge step (and re-consumes
    per merge round), and the natural companion to llm_vocab_induction's
    word-level table.

    Scale: the quadratic-looking pair explosion runs over the VOCAB
    (distinct words — sublinear in corpus size), not the corpus; word
    counting map-side-combines before its one shuffle, the pair
    aggregate's key space is bounded by the alphabet (≤ charset²), and
    the top-N is a TakeOrdered heap, never a global sort. Ties at the
    cut are deterministic: (count DESC, pair ASC) on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(normalized_words(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(BPE_TOP_PAIRS)
    )


TOKENIZER_VOCAB_SIZE = 200


@query(
    "llm_tokenizer_apply",
    survey_id="LLM-8/LLM-11",
    oracle=rf"""
        WITH words AS (
            SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents
        ), vocab AS (
            SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS tok_id
            FROM words WHERE w <> '' GROUP BY w
            QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w)
                <= {TOKENIZER_VOCAB_SIZE}
        ), toks AS (
            SELECT doc_id, i, wl[i + 1] AS w
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\s+') AS wl
                  FROM documents),
                 LATERAL unnest(range(len(wl))) t(i)
        )
        SELECT t.doc_id,
               array_to_string(list(COALESCE(v.tok_id, 0) ORDER BY t.i), ' ')
                   AS token_ids,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unk
        FROM toks t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """,
)
def llm_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization with an induced vocabulary: every document becomes its
    ordered token-id sequence (top-200 frequency-ranked words; everything
    else maps to UNK=0) plus length and OOV counts — the step between
    llm_vocab_induction (builds the vocab) and llm_sequence_pack (packs
    the id sequences), completing the text→tensor path.

    Scale: the vocab is induced with a combined count + TakeOrdered
    V-heap (never a global sort of the corpus) and its V-sized id table
    BROADCASTS into the exploded token stream — tokens never shuffle on
    the skewed word key; sequence re-assembly sorts each doc's ≤L
    (pos, id) pairs inside collect_list, one doc_id exchange. The same
    plan serves a BPE merge table: ids become merge ranks, nothing else
    moves."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(normalized_words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    topv = counts.orderBy(F.col("n").desc(), F.col("w")).limit(
        TOKENIZER_VOCAB_SIZE
    )
    # rank window runs on the V-sized result only (the TakeOrdered heap
    # already bounded it) — same discipline as llm_vocab_induction
    vocab = topv.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("w")))
        .cast("bigint")
        .alias("tok_id"),
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(normalized_words(F.col("text"))).alias("i", "w"),
    )
    joined = toks.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", "i", F.coalesce("tok_id", F.lit(0).cast("bigint")).alias("tid")
    )
    # id sequence serialized to a string: the driver's hash comparison
    # (and its local mirror) rejects array cells in oracle-backed outputs
    return joined.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "tid"))),
                lambda s: s.tid.cast("string"),
            ),
        ).alias("token_ids"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("tid") == 0, 1).otherwise(0)).alias("n_unk"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction with audit counts)
# ---------------------------------------------------------------------------

#: Patterns kept inside the Java-regex/RE2 COMMON dialect (no lookarounds,
#: no backrefs) so Spark and DuckDB match identical spans.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
PII_LONG_ID = r"\d{9,}"


@query(
    "llm_pii_scrub",
    survey_id="LLM-8/PF-3",
    oracle=rf"""
        WITH t AS (SELECT doc_id, lower(text) AS s FROM documents
                   WHERE text IS NOT NULL),
        st1 AS (
            -- each stage counts on the SAME string the replace runs on, so
            -- both engines count phones in the email-redacted text: a
            -- phone-shaped run inside an email local part must count 0
            SELECT doc_id,
                   len(regexp_extract_all(s, '{PII_EMAIL}')) AS n_emails,
                   regexp_replace(s, '{PII_EMAIL}', '<EMAIL>', 'g') AS s1
            FROM t
        ),
        st2 AS (
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(s1, '{PII_PHONE}')) AS n_phones,
                   regexp_replace(s1, '{PII_PHONE}', '<PHONE>', 'g') AS s2
            FROM st1
        )
        SELECT doc_id,
               CAST(n_emails AS INT) AS n_emails,
               CAST(n_phones AS INT) AS n_phones,
               CAST(len(regexp_extract_all(s2, '{PII_LONG_ID}')) AS INT)
                   AS n_long_ids,
               md5(regexp_replace(s2, '{PII_LONG_ID}', '<ID>', 'g'))
                   AS scrubbed_md5
        FROM st2
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every web-scale training corpus
    runs before packing (C4/Dolma-style): emails, phone-shaped numbers,
    and long digit runs are replaced with typed placeholder tokens, with
    per-doc audit counts. The output certifies the scrub BYTE-EXACTLY:
    the md5 of the fully scrubbed text must match an independent engine's
    scrub, so a drifting regex dialect or replacement order can't pass
    silently (the counts alone would). Order is fixed
    email → phone → long-id because each stage's replacement tokens must
    not be re-matched by later patterns.

    Patterns deliberately stay in the Java-regex ∩ RE2 common dialect
    (character classes, bounded repetition — no lookarounds/backrefs),
    the same portability constraint the PF-3 extract operator documents.
    Scale: map-only narrow transform at scan speed — regex cost is
    per-byte, no shuffle, no state; at 100 TB this is the canonical
    embarrassingly-parallel pass."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    s = F.lower(F.col("text"))
    s_email = F.regexp_replace(s, PII_EMAIL, "<EMAIL>")
    s_phone = F.regexp_replace(s_email, PII_PHONE, "<PHONE>")
    s_id = F.regexp_replace(s_phone, PII_LONG_ID, "<ID>")
    return docs.select(
        "doc_id",
        F.regexp_count(s, F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(s_email, F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(s_phone, F.lit(PII_LONG_ID))
        .cast("int")
        .alias("n_long_ids"),
        F.md5(s_id).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Code-vs-prose detection (heuristic classifier over integer signals)
# ---------------------------------------------------------------------------

CODE_SYMBOL = r"[{};=<>()\[\]]"
CODE_KEYWORD = r"\b(def|class|return|import|function|var|const|if|else|for|while)\b"
CODE_SCORE_MIN = 25  # per-mille symbol+keyword density above which = code


@query(
    "llm_code_detect",
    survey_id="LLM-8",
    oracle=rf"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{CODE_SYMBOL}')) AS INT)
                   AS n_symbols,
               CAST(len(regexp_extract_all(lower(text), '{CODE_KEYWORD}'))
                   AS INT) AS n_keywords,
               CAST((len(regexp_extract_all(text, '{CODE_SYMBOL}'))
                     + 3 * len(regexp_extract_all(lower(text),
                                                  '{CODE_KEYWORD}')))
                    * 1000 // length(text) AS INT) AS code_permille,
               CAST((len(regexp_extract_all(text, '{CODE_SYMBOL}'))
                     + 3 * len(regexp_extract_all(lower(text),
                                                  '{CODE_KEYWORD}')))
                    * 1000 // length(text) >= {CODE_SCORE_MIN} AS INT)
                   AS is_code
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
    """,
)
def llm_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the routing gate a mixed web corpus runs
    before language-specific pipelines (code goes to a code tokenizer and
    license filters, prose to quality gates): per-mille density of code
    punctuation plus 3×-weighted language keywords, thresholded. All
    signals are INTEGER counts and the density is integer per-mille
    floor-division, so the score and the cut are exact on both engines —
    no float path at all (the udf_model_batch_inference micro-unit
    lesson applied at design time rather than as a fix).

    The keyword regex stays in the Java-regex/RE2 common dialect
    (alternation + word boundaries). On this synthetic English corpus
    every doc scores prose — the operator's value here is the certified
    mechanics; the threshold is the tunable.

    Scale: map-only regex counting at scan speed, no shuffle — the same
    embarrassingly-parallel class as llm_pii_scrub."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    n_sym = F.regexp_count(F.col("text"), F.lit(CODE_SYMBOL))
    n_kw = F.regexp_count(F.lower("text"), F.lit(CODE_KEYWORD))
    permille = F.floor((n_sym + 3 * n_kw) * 1000 / F.length("text"))
    return docs.select(
        "doc_id",
        n_sym.cast("int").alias("n_symbols"),
        n_kw.cast("int").alias("n_keywords"),
        permille.cast("int").alias("code_permille"),
        (permille >= CODE_SCORE_MIN).cast("int").alias("is_code"),
    )


# --- BM25 retrieval scoring (completes tfidf -> bm25 -> rrf_fusion) --------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("data", "slow", "big")  # present at every SF (df-probed)
BM25_TOPN = 20

_BM25_ORACLE = rf"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM w),
    terms AS (SELECT doc_id, unnest(w) AS term FROM w),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM terms
        WHERE term IN {BM25_QUERY!r}
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    st AS (
        SELECT COUNT(*) AS n_docs,
               (SELECT SUM(dl) FROM dl)::DOUBLE / COUNT(*) AS avgdl
        FROM documents
    ),
    scored AS (
        SELECT tf.doc_id,
               SUM(ROUND(
                   ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)),
                   9)) AS s,
               COUNT(*) AS n_terms
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN st
        GROUP BY tf.doc_id
    )
    SELECT doc_id,
           ROUND(s, 6)               AS bm25,
           CAST(n_terms AS BIGINT)   AS n_terms_matched
    FROM scored
    ORDER BY ROUND(s, 6) DESC, doc_id
    LIMIT {BM25_TOPN}
"""


@query("llm_bm25_topk", survey_id="LLM-8", oracle=_BM25_ORACLE)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 retrieval for a fixed query term set — the
    ranking function real retrieval stacks run where llm_tfidf stops at
    raw weights; its output is exactly the kind of ranked list
    wn_rrf_rank_fusion fuses. idf = ln(1 + (N - df + ½)/(df + ½))
    (Lucene form, never negative), k1 = 1.2, b = 0.75.

    Scale shape: the exploded word stream filters to the QUERY TERMS
    before any aggregation (the only shuffled rows are (doc, term ∈ q)
    pairs — for a 3-term query that is a vanishing fraction of the token
    stream); df and the (n_docs, avgdl) scalars are query-term-sized and
    1-row broadcasts; the per-doc score joins touch only matching docs.
    TakeOrdered materializes the top-20, never a global sort.

    Float discipline (SURVEY §5.3): per-term contributions round to 9 dp
    before the sum, the sum to 6 dp before ranking, identical in the
    oracle — ln's last ulp can differ across engines and the logprob
    family proved this two-stage rounding stable on this corpus."""
    return _bm25_topk(spark, sf_dir, BM25_QUERY)


def _bm25_topk(
    spark: SparkSession, sf_dir: str, terms: tuple
) -> DataFrame:
    """llm_bm25_topk's plan with the query terms exposed (VERDICT r8
    #4): decade fixtures past sf1 are clone ladders where the bare
    registered terms degenerate every linear ranker's top-10 to one
    ancestor's copies; a suffixed term set (e.g. ``data``→the words of
    one copy's sub-corpus) scopes the SAME plan to a clone-free slice
    so the eval arithmetic does real work at the third decade. The
    registered query stays on BM25_QUERY."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", normalized_words(F.col("text")).alias("w"))
    # cache the tiny (doc_id, dl) frame: the avgdl aggregate and the
    # per-doc score join are separate DAG branches, and Catalyst does
    # not share subtrees across branches — uncached, each one re-runs
    # the full-corpus regex tokenization (review finding; same pattern
    # as the dedup pipeline's shingled.cache())
    dl = w.select("doc_id", F.size("w").alias("dl")).cache()
    # tf is deliberately NOT cached (round-13 A/B): its two consumers
    # (df aggregate, score join) re-run the tokenize+explode pass, but
    # caching it measured WORSE end-to-end at sf0.1 (bm25/ndcg/rbo
    # medians drifted +0.3-0.9 s across 4 interleaved runs) — the
    # InMemoryRelation materialization + first-use job outweighs the
    # ~0.15 s query-term-filtered pass it saves at this corpus size.
    # At decade SFs the dl cache above already carries the
    # corpus-proportional reuse story; revisit tf only with a measured
    # win (OPTIMIZATION_r13.md "measured non-changes").
    tf = (
        w.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    st = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").cast("double").alias("sum_dl"))
    ).select("n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        9,
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOPN)


# ---------------------------------------------------------------------------
# nDCG ranking-quality evaluation (TF-IDF ranking scored on BM25 gains)
# ---------------------------------------------------------------------------

NDCG_K = 10

#: 1/log2(rank+1) discounts as PYTHON FLOAT LITERALS injected verbatim
#: into BOTH engines' SQL text — neither engine ever calls log2, so the
#: one cross-engine float hazard of DCG (last-ulp log differences) is
#: removed by construction. The unrolled "a + b + c" sum parses
#: left-associative in both engines, so identical inputs give identical
#: doubles.
import math as _math

_NDCG_DISCOUNTS = tuple(1.0 / _math.log2(j + 1) for j in range(1, NDCG_K + 1))


def _dcg_terms(elem_fmt: str) -> str:
    # CAST(literal AS DOUBLE): Spark parses a bare decimal literal as
    # DECIMAL and the whole DCG would silently become decimal arithmetic
    # (dtype mismatch vs the oracle's doubles)
    return " + ".join(
        f"COALESCE({elem_fmt.format(j=j)}, 0) * CAST({c!r} AS DOUBLE)"
        for j, c in enumerate(_NDCG_DISCOUNTS, 1)
    )


_NDCG_ORACLE = rf"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM w),
    terms AS (SELECT doc_id, unnest(w) AS term FROM w),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM terms
        WHERE term IN {BM25_QUERY!r}
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    st AS (
        SELECT COUNT(*) AS n_docs,
               (SELECT SUM(dl) FROM dl)::DOUBLE / COUNT(*) AS avgdl
        FROM documents
    ),
    bm AS (
        SELECT tf.doc_id,
               ROUND(SUM(ROUND(
                   ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)),
                   9)), 6) AS s
        FROM tf
        JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        GROUP BY tf.doc_id
        ORDER BY ROUND(SUM(ROUND(
                   ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)),
                   9)), 6) DESC, tf.doc_id
        LIMIT {BM25_TOPN}
    ),
    gains AS (
        SELECT doc_id, CAST(ROUND(s * 1000000.0) AS BIGINT) AS gain FROM bm
    ),
    tscored AS (
        SELECT tf.doc_id,
               ROUND(SUM(ROUND(
                   tf.tf * (ln((st.n_docs + 1.0) / (df.df + 1.0)) + 1.0),
                   9)), 6) AS tscore
        FROM tf JOIN df USING (term) CROSS JOIN st
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT doc_id, tscore,
               ROW_NUMBER() OVER (ORDER BY tscore DESC, doc_id) AS rnk
        FROM tscored
        ORDER BY tscore DESC, doc_id
        LIMIT {NDCG_K}
    ),
    sys AS (
        SELECT list(COALESCE(g.gain, 0) ORDER BY r.rnk) AS sg,
               CAST(SUM(CASE WHEN COALESCE(g.gain, 0) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
        FROM ranked r LEFT JOIN gains g USING (doc_id)
    ),
    ideal AS (
        SELECT doc_id, gain FROM gains
        ORDER BY gain DESC, doc_id LIMIT {NDCG_K}
    ),
    ideal_arr AS (
        SELECT list(gain ORDER BY gain DESC, doc_id) AS ig FROM ideal
    ),
    dcgs AS (
        SELECT ROUND({_dcg_terms("sg[{j}]")}, 6)  AS dcg_at10,
               ROUND({_dcg_terms("ig[{j}]")}, 6)  AS idcg_at10,
               n_overlap
        FROM sys CROSS JOIN ideal_arr
    )
    SELECT dcg_at10, idcg_at10,
           ROUND(dcg_at10 / idcg_at10, 6) AS ndcg_at10,
           n_overlap
    FROM dcgs
"""


@query("llm_ndcg_eval", survey_id="LLM-8/WN-2", oracle=_NDCG_ORACLE)
def llm_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the TF-IDF ranking scored against BM25 gains for the
    shared fixed query — the standard ranking-quality readout
    (Järvelin & Kekäläinen 2002) that closes the retrieval loop the repo
    already runs (tfidf → bm25 → RRF fusion → MMR): it MEASURES how much
    BM25's length normalization reorders the raw TF-IDF list. Gains are
    the BM25 top-20 scores in integer micro-units (unjudged docs gain 0,
    the trec_eval convention); IDCG re-sorts those gains descending.

    Float discipline: the 1/log2(rank+1) discounts are PYTHON FLOAT
    LITERALS injected into both engines' expression text, and each DCG
    is one UNROLLED left-associative 10-term sum of (exact integer gain
    x literal double) — no engine ever computes a log for the discount
    chain, so both sides produce bit-identical doubles.

    Scale shape: the heavy lifting is the two retrieval pipelines, both
    query-term-filtered before any shuffle (the bm25 doctrine); the nDCG
    arithmetic itself touches two K-row lists built by TakeOrdered and
    reduces to ONE row — evaluation cost is independent of corpus size."""
    return _ndcg_eval(spark, sf_dir, BM25_QUERY)


def _ndcg_eval(spark: SparkSession, sf_dir: str, terms: tuple) -> DataFrame:
    """llm_ndcg_eval's plan with the query terms exposed (the _bm25_topk
    convention — decade evals scope to a clone-free sub-corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    bm_gain = _bm25_topk(spark, sf_dir, terms).select(
        "doc_id",
        F.round(F.col("bm25") * F.lit(1000000.0)).cast("bigint").alias("gain"),
    )
    w = docs.select("doc_id", normalized_words(F.col("text")).alias("w"))
    tf = (
        w.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    tscored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.round(F.col("tf") * idf, 9)), 6).alias("tscore")
        )
    )
    topk = tscored.orderBy(F.desc("tscore"), "doc_id").limit(NDCG_K)
    rnk_w = Window.orderBy(F.desc("tscore"), "doc_id")  # K rows, bounded
    ranked = topk.withColumn("rnk", F.row_number().over(rnk_w))
    sys = (
        ranked.join(bm_gain, "doc_id", "left")
        .na.fill({"gain": 0})
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rnk", "gain"))),
                lambda s: s["gain"],
            ).alias("sg"),
            F.sum((F.col("gain") > 0).cast("int"))
            .cast("bigint")
            .alias("n_overlap"),
        )
    )
    ideal = (
        bm_gain.orderBy(F.desc("gain"), "doc_id")
        .limit(NDCG_K)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("gain")).alias("ng"), "doc_id", "gain")
                    )
                ),
                lambda s: s["gain"],
            ).alias("ig")
        )
    )
    # try_element_at, not element_at: under Spark 4 ANSI mode a plain
    # element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT when fewer than
    # NDCG_K docs match the query terms (the DuckDB oracle's sg[j] is
    # already NULL past the end; COALESCE supplies the 0 on both engines).
    dcg = F.expr(_dcg_terms("try_element_at(sg, {j})"))
    idcg = F.expr(_dcg_terms("try_element_at(ig, {j})"))
    return (
        sys.crossJoin(ideal)
        .select(
            F.round(dcg, 6).alias("dcg_at10"),
            F.round(idcg, 6).alias("idcg_at10"),
            "n_overlap",
        )
        .select(
            "dcg_at10",
            "idcg_at10",
            # try_divide: an empty/term-free corpus has idcg = 0 and ANSI
            # double division would throw; DuckDB's x/0 is NULL
            F.round(
                F.try_divide(F.col("dcg_at10"), F.col("idcg_at10")), 6
            ).alias("ndcg_at10"),
            "n_overlap",
        )
        .select("dcg_at10", "idcg_at10", "ndcg_at10", "n_overlap")
    )


# ---------------------------------------------------------------------------
# Inter-rater agreement between declared metadata and the detector
# ---------------------------------------------------------------------------

#: Shares the GENERATED scoring CTE with llm_lang_id's oracle, so the
#: kappa oracle can never desynchronize from the detector's definition.
_KAPPA_GUESS_CTE = f"""
        {_LANG_SCORED_CTE}, guesses AS (
            SELECT labeled_lang,
                   {_lang_argmax_case_sql()} AS guessed_lang
            FROM scored
        )
"""


@query(
    "ag_cohens_kappa",
    survey_id="AG-7/LLM-7",
    oracle=rf"""
        WITH {_KAPPA_GUESS_CTE},
        cnt AS (
            SELECT labeled_lang AS a, guessed_lang AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM guesses GROUP BY labeled_lang, guessed_lang
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT)                        AS n,
                   CAST(COALESCE(SUM(c) FILTER (WHERE a = b), 0)
                        AS BIGINT)                               AS n_agree
            FROM cnt
        ), pe AS (
            SELECT CAST(COALESCE(SUM(r.r * q.q), 0) AS BIGINT) AS pe_num
            FROM (SELECT a AS k, SUM(c) AS r FROM cnt GROUP BY a) r
            JOIN (SELECT b AS k, SUM(c) AS q FROM cnt GROUP BY b) q
              USING (k)
        )
        SELECT t.n, t.n_agree, p.pe_num,
               CASE WHEN t.n * t.n = p.pe_num THEN CAST(0 AS BIGINT)
                    ELSE ((1000000 * (t.n * t.n_agree - p.pe_num))
                          - (((1000000 * (t.n * t.n_agree - p.pe_num))
                              % (t.n * t.n - p.pe_num)
                              + (t.n * t.n - p.pe_num))
                             % (t.n * t.n - p.pe_num)))
                         // (t.n * t.n - p.pe_num)
               END AS kappa_micro
        FROM tot t, pe p
    """,
)
def ag_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the DECLARED language metadata and the
    stopword language detector (llm_lang_id's exact scoring, consumed as
    a frame so the two can never desynchronize) — the label-QA readout
    a pipeline runs to decide whether upstream metadata can be trusted:
    raw agreement over-credits skewed class distributions, kappa
    discounts chance agreement. One summary row: n, agreeing docs, the
    chance term Σ row_k·col_k, and kappa in micro-units.

    All-integer: kappa = (n·agree − pe) / (n² − pe) is a ratio of exact
    BIGINTs, floored into micro-units with the pmod trick (the numerator
    is NEGATIVE when agreement is below chance, and floor semantics for
    negative integers differ between engines unless forced); the
    degenerate n² = pe case (single class on both sides) reports 0 by
    convention. At 100 TB n² needs decimal(38,0) — a one-line cast.

    Scale: the detector pass is the only data-sized stage; everything
    after runs on the ≤ |langs|² contingency grid (25 cells), the same
    bounded shape as ag_chi_square_contingency."""
    guesses = llm_lang_id(spark, sf_dir)
    # The contingency grid is ≤ |langs|² = 25 cells, so materialize it
    # eagerly into a local frame instead of persisting (ADVICE r7: the
    # persisted frame had no unpersist site — the consuming action is the
    # caller's collect — and accumulated executor storage across a
    # full-registry sweep). The detector pass runs exactly once; the three
    # consumers below all read the 25-row local relation.
    grid_rows = (
        guesses.groupBy("labeled_lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    cnt = spark.createDataFrame(
        grid_rows, "labeled_lang string, guessed_lang string, c bigint"
    )
    tot = cnt.agg(
        F.sum("c").alias("n"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("labeled_lang") == F.col("guessed_lang"), F.col("c")
                )
            ),
            F.lit(0),
        ).alias("n_agree"),
    )
    rowm = cnt.groupBy(F.col("labeled_lang").alias("k")).agg(
        F.sum("c").alias("r")
    )
    colm = cnt.groupBy(F.col("guessed_lang").alias("k")).agg(
        F.sum("c").alias("q")
    )
    pe = (
        rowm.join(colm, "k")
        .agg(F.coalesce(F.sum(F.col("r") * F.col("q")), F.lit(0)).alias("pe_num"))
    )
    # integer `div`, not `/`: the double-typed divide rounds the numerator
    # at 2^53 (~1e5 docs) before dividing, silently breaking the
    # integer-exact contract; pmod makes the floor explicit for the
    # below-chance (negative-numerator) case
    kappa = F.expr(
        "CASE WHEN n * n = pe_num THEN CAST(0 AS BIGINT) ELSE "
        "(1000000 * (n * n_agree - pe_num)"
        " - pmod(1000000 * (n * n_agree - pe_num), n * n - pe_num))"
        " div (n * n - pe_num) END"
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n", "n_agree", "pe_num", kappa.alias("kappa_micro")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the two retrieval rankings
# ---------------------------------------------------------------------------

RBO_P = 0.9  # persistence: top-weightedness of the overlap average
RBO_K = 10

#: Truncated RBO@K = (1-p) * sum_d p^(d-1) * overlap_d / d. A common doc
#: with max(rank_sys, rank_bm) = m contributes the SUFFIX weight
#: W_m = sum_{d=m..K} (1-p) p^(d-1)/d — precomputed here as NANO-UNIT
#: INTEGER literals, so the per-doc contributions sum EXACTLY in any
#: order on both engines (the one float hazard of RBO — an unordered
#: float SUM — is removed by construction; only the final /1e9 is float,
#: on an identical integer).
_RBO_W_NANO = tuple(
    int(
        round(
            sum(
                (1.0 - RBO_P) * RBO_P ** (d - 1) / d
                for d in range(m, RBO_K + 1)
            )
            * 1_000_000_000
        )
    )
    for m in range(1, RBO_K + 1)
)

_RBO_CASE = (
    "CASE m "
    + " ".join(f"WHEN {m} THEN {w}" for m, w in enumerate(_RBO_W_NANO, 1))
    + " END"
)

_RBO_ORACLE = rf"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM w),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM w)
        WHERE term IN {BM25_QUERY!r}
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    st AS (
        SELECT COUNT(*) AS n_docs,
               (SELECT SUM(dl) FROM dl)::DOUBLE / COUNT(*) AS avgdl
        FROM documents
    ),
    bm AS (
        SELECT tf.doc_id,
               ROUND(SUM(ROUND(
                   ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)),
                   9)), 6) AS s
        FROM tf
        JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        GROUP BY tf.doc_id
    ),
    b10 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r2
        FROM bm ORDER BY s DESC, doc_id LIMIT {RBO_K}
    ),
    tscored AS (
        SELECT tf.doc_id,
               ROUND(SUM(ROUND(
                   tf.tf * (ln((st.n_docs + 1.0) / (df.df + 1.0)) + 1.0),
                   9)), 6) AS tscore
        FROM tf JOIN df USING (term) CROSS JOIN st
        GROUP BY tf.doc_id
    ),
    t10 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tscore DESC, doc_id) AS r1
        FROM tscored ORDER BY tscore DESC, doc_id LIMIT {RBO_K}
    ),
    common AS (
        SELECT GREATEST(t.r1, b.r2) AS m
        FROM t10 t JOIN b10 b USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_common,
           ROUND(CAST(COALESCE(SUM({_RBO_CASE}), 0) AS BIGINT)
                 / 1000000000.0, 6)                          AS rbo_at10
    FROM common
"""


@query("llm_rbo_eval", survey_id="LLM-8/WN-2", oracle=_RBO_ORACLE)
def llm_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap @10 (Webber, Moffat & Zobel 2010) between the
    TF-IDF and BM25 rankings for the shared fixed query — the
    top-weighted, set-based complement of llm_ndcg_eval (nDCG needs
    graded gains; RBO compares two RANKINGS directly, weighting
    agreement at rank 1 most). Truncated form at depth K; with p = 0.9
    the top rank carries ~29% of the attainable mass.

    Float discipline (one step beyond the nDCG literal injection): a
    common doc at max-rank m contributes the suffix weight
    W_m = Σ_{{d≥m}} (1−p)p^{{d−1}}/d, precomputed as NANO-UNIT INTEGER
    literals — the per-doc contributions SUM EXACTLY in any order on
    both engines, so there is no unrolled float chain at all; the only
    float op is the final /10⁹ of an identical integer.

    Scale shape: both rankings are query-term-filtered before any
    shuffle (the bm25 doctrine) and truncate to K rows by TakeOrdered;
    the RBO arithmetic joins two 10-row lists — evaluation cost is
    corpus-size-independent."""
    return _rbo_eval(spark, sf_dir, BM25_QUERY)


def _rbo_eval(spark: SparkSession, sf_dir: str, terms: tuple) -> DataFrame:
    """llm_rbo_eval's plan with the query terms exposed (the _bm25_topk
    convention — decade evals scope to a clone-free sub-corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    b10 = (
        _bm25_topk(spark, sf_dir, terms)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(RBO_K)
        .withColumn(
            "r2", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        )
        .select("doc_id", "r2")
    )
    w = docs.select("doc_id", normalized_words(F.col("text")).alias("w"))
    tf = (
        w.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    t10 = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.round(F.col("tf") * idf, 9)), 6).alias("tscore"))
        .orderBy(F.desc("tscore"), "doc_id")
        .limit(RBO_K)
        .withColumn(
            "r1",
            F.row_number().over(Window.orderBy(F.desc("tscore"), "doc_id")),
        )
        .select("doc_id", "r1")
    )
    m = F.greatest("r1", "r2").cast("int")
    w_arr = F.array(*[F.lit(x).cast("bigint") for x in _RBO_W_NANO])
    common = t10.join(b10, "doc_id").select(
        F.element_at(w_arr, m).alias("w_nano")
    )
    return common.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.round(
            F.coalesce(F.sum("w_nano"), F.lit(0)).cast("bigint")
            / F.lit(1000000000.0),
            6,
        ).alias("rbo_at10"),
    )
