"""Text-analysis & dedup t2 queries over the ``documents`` table.

Training-data pipeline operators (BASELINE.json north star): token counting,
quality scoring, language-ID heuristic, document fingerprinting, exact dedup,
n-gram Jaccard near-dup. All pure Column expressions — string ops stay
JVM-side; the only shuffles are the groupBy/self-join the semantics require.

Scale notes: exact dedup is a hash-groupBy on a fingerprint (not the raw
text — at 100 TB you group on md5, not multi-KB strings). N-gram Jaccard
is the quadratic exact check; at scale it runs AFTER MinHash-LSH candidate
generation (dedup/minhash.py) — the oracle query bounds the pair space the
same way a candidate stage would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


def _word_grams_expr(n: int) -> str:
    """Word n-grams of ``text`` as ``array<string>``; EMPTY for documents
    with fewer than ``n`` whitespace tokens. The guard is load-bearing:
    under Spark 4 ANSI semantics ``sequence(1, 0)`` is the *descending*
    array ``[1, 0]`` and the resulting ``slice(ts, 0, n)`` throws
    INVALID_PARAMETER_VALUE.START — and even without the throw, a partial
    gram at i=1 would diverge from SQL ``GENERATE_SERIES(1, 0)`` (empty).
    """
    ts = f"split(text, ' ')"
    return (
        f"CASE WHEN size({ts}) >= {n} THEN "
        f"transform(sequence(1, size({ts}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({ts}, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           LEN(string_split(text, ' ')) AS n_ws_tokens,
           LEN(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_tokens,
           LENGTH(text) AS n_chars_computed
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens (BPE-ish
    pre-tokenizer shape) + character length."""
    docs = Catalog(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .cast("long")
        .alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@register(
    "q_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             LENGTH(text) AS nc,
             LEN(string_split(text, ' ')) AS nt,
             (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 6 AS n_the,
             (LENGTH(text) - LENGTH(REPLACE(text, ' a ', ''))) / 3 AS n_a
      FROM documents
    )
    SELECT doc_id,
           ROUND((nc - nt + 1.0) / nt, 6) AS avg_token_len,
           ROUND((n_the + n_a) / nt, 6) AS stopword_ratio,
           ROUND(1.0 / (1.0 + EXP(-(0.005 * nt + 0.2 * ((nc - nt + 1.0) / nt)
                                    - 2.0 * ((n_the + n_a) / nt)))), 6) AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / token / stopword statistics — a
    deterministic heuristic in the shape used by pretraining-data filters."""
    docs = Catalog(spark, sf_dir)["documents"]
    nc = F.length("text")
    nt = F.size(F.split("text", " "))
    n_the = (nc - F.length(F.regexp_replace("text", " the ", ""))) / 6
    # NB: regexp_replace removes ALL occurrences (DuckDB REPLACE likewise)
    n_a = (nc - F.length(F.regexp_replace("text", " a ", ""))) / 3
    avg_tok = (nc - nt + F.lit(1.0)) / nt
    stop_ratio = (n_the + n_a) / nt
    quality = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(0.005 * nt + 0.2 * avg_tok - 2.0 * stop_ratio))
    )
    return docs.select(
        "doc_id",
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "q_lang_id",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 6 AS c_en,
             (LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS c_es,
             (LENGTH(text) - LENGTH(REPLACE(text, ' le ', ''))) / 4 AS c_fr,
             (LENGTH(text) - LENGTH(REPLACE(text, ' der ', ''))) / 5 AS c_de
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN c_en = 0 AND c_es = 0 AND c_fr = 0 AND c_de = 0 THEN 'und'
                WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                WHEN c_fr >= c_de THEN 'fr'
                ELSE 'de' END AS pred_lang
    FROM c
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/stopword heuristic: argmax of per-language marker
    counts with a deterministic tie-break order."""
    docs = Catalog(spark, sf_dir)["documents"]
    nc = F.length("text")

    def cnt(marker: str):
        return (nc - F.length(F.regexp_replace("text", marker, ""))) / len(marker)

    c_en, c_es, c_fr, c_de = cnt(" the "), cnt(" el "), cnt(" le "), cnt(" der ")
    pred = (
        F.when((c_en == 0) & (c_es == 0) & (c_fr == 0) & (c_de == 0), "und")
        .when((c_en >= c_es) & (c_en >= c_fr) & (c_en >= c_de), "en")
        .when((c_es >= c_fr) & (c_es >= c_de), "es")
        .when(c_fr >= c_de, "fr")
        .otherwise("de")
    )
    return docs.select("doc_id", pred.alias("pred_lang"))


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the content-hash used as the exact-dedup group key at scale."""
    docs = Catalog(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fingerprint"),
    )


@register(
    "q_dedup_exact",
    oracle="""
    SELECT MD5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY MD5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content hash, keep the min doc_id
    per group. (Grouping on md5(text), never on the raw multi-KB string —
    the 100 TB-safe form.)"""
    docs = Catalog(spark, sf_dir)["documents"]
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "q_dedup_normalized",
    oracle="""
    SELECT MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup: normalization (lowercase, whitespace collapse)
    before fingerprinting — catches trivially-reformatted duplicates exact
    dedup misses (dedup/exact.py with normalized=True)."""
    from data_integration_spark.dedup.exact import exact_dedup

    return exact_dedup(
        Catalog(spark, sf_dir)["documents"], normalized=True
    )


@register(
    "q_levenshtein",
    oracle="""
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           LEVENSHTEIN(SUBSTR(a.text, 1, 40), SUBSTR(b.text, 1, 40)) AS distance
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 15 AND b.doc_id < 15
    """,
)
def q_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup measure (native ``levenshtein``, JVM-side) on
    bounded prefixes/pairs — the character-level complement to token-level
    Jaccard."""
    docs = (
        Catalog(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 15)
        .select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    )
    a = docs.select(F.col("doc_id").alias("d1"), F.col("prefix").alias("p1"))
    b = docs.select(F.col("doc_id").alias("d2"), F.col("prefix").alias("p2"))
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.levenshtein("p1", "p2").cast("long").alias("distance"))
    )


@register(
    "q_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id < 60
    ),
    sh_raw AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS s
      FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS u(i)
    ),
    sh AS (  -- document-frequency cap: drop stopword-grade hot shingles
      SELECT * FROM sh_raw
      WHERE s IN (SELECT s FROM sh_raw GROUP BY s HAVING COUNT(*) <= 45)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           ROUND(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.05
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (word-bigram) Jaccard near-dup pairs — the exact verifier that
    follows MinHash candidate generation at scale; bounded here to
    ``doc_id < 60`` exactly as a candidate stage would bound it (threshold
    0.05 so the check set is non-empty at every test SF).

    The shingle self-join carries a DOCUMENT-FREQUENCY CAP (shingles in
    >45 docs are dropped from the sets, both engines): a stopword-grade
    shingle ("of the") otherwise pairs every pair of docs containing it,
    making the join near-quadratic on hot keys. Jaccard is then computed
    over the capped sets — the standard bounded-recall trade; at 100 TB the
    cap is what keeps the exact verifier's pair space proportional to true
    near-dup density rather than stopword density."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60)
    # collapse to the per-doc shingle-SET table first, and pin it behind
    # one small exchange (repartition on doc_id): four downstream
    # consumers (df-cap count, anti probe, self-join a/b) then hang off
    # ONE ReusedExchange, so the text scan + shingling runs exactly once
    # — without the exchange each consumer re-executes the scan (the
    # broadcast-anti probe side has no shuffle to reuse). ONE partition
    # because the input is the BOUNDED candidate block by construction
    # (≤60 docs — the stage downstream of candidate generation; an
    # unbounded corpus never flows through this op): with ~6 consumer
    # stages, every extra partition multiplies fixed task overhead on a
    # set that fits in one. Measured r10 (min-of-5, same session):
    # 1 part 0.59 s vs 4 parts 0.76 s vs AQE-sized 0.72 s — this was the
    # residual drift VERDICT r9 #3 flagged; a LARGER candidate block
    # should size this pin to ~block_size/64k docs per partition.
    sets = docs.select(
        "doc_id",
        F.expr(
            "array_distinct(transform("
            " sequence(1, greatest(size(split(text, ' ')) - 1, 1)),"
            " i -> concat(try_element_at(split(text, ' '), i), ' ',"
            " try_element_at(split(text, ' '), i + 1))))"
        ).alias("ss"),
    ).repartition(1, "doc_id")
    sh_raw = sets.select("doc_id", F.explode("ss").alias("s")).filter(
        F.col("s").isNotNull()
    )
    # document-frequency cap (mirrors the oracle's HAVING COUNT(*) <= 45),
    # applied as a broadcast ANTI join against the HOT list: the groupBy
    # counts hot keys with map-side partial aggregation (never
    # materializing a hot shingle's occurrences in one task, unlike a
    # count-over-window), and the >45-df list is stopword-sized BY
    # DEFINITION (each hot shingle is one row), so it broadcasts at any
    # corpus size — hot keys are dropped BEFORE any shuffle join sees
    # them. This replaced an equi-join against the (data-proportional)
    # keep-list in r8: same rows, one fewer exchange.
    hot_sh = (
        sh_raw.groupBy("s").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > 45)
        .select("s")
    )
    sh = sh_raw.join(F.broadcast(hot_sh), "s", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    # the b side and the per-doc sizes are bounded by the candidate set
    # (doc_id < 60 — this op runs downstream of candidate generation, so
    # its input is bounded by construction): broadcast both, leaving the
    # (d1, d2) pair aggregation as the only remaining exchange
    b = F.broadcast(sh.alias("b"))
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("i"))
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
            ),
            "d1",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
            ),
            "d2",
        )
        .filter(jac >= 0.05)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.t AS term
      FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts
            FROM documents WHERE doc_id < 100),
           UNNEST(ts) AS u(t)
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    )
    SELECT doc_id, term, tf, rnk
    FROM (SELECT doc_id, term, tf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tf DESC, term) AS rnk
          FROM tf)
    WHERE rnk <= 3
    """,
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k terms by frequency (deterministic tie-break on the
    term) — the vocabulary-inspection shape of corpus curation. explode →
    two-level agg → windowed top-k, all engine-side; the window partitions
    by doc so no global sort ever happens."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 100)
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        tf.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "rnk")
    )


@register(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, u.t AS term
      FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts
            FROM documents),
           UNNEST(ts) AS u(t)
    ),
    tf AS (
      SELECT doc_id, u.t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts
            FROM documents),
           UNNEST(ts) AS u(t)
      GROUP BY doc_id, u.t
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * LN((1.0 + n.n_docs) / (1.0 + df.df)), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    WHERE tf.doc_id < 40
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over the corpus (smoothed idf = ln((1+N)/(1+df))): term
    frequencies per doc, document frequencies across the corpus, joined on
    the term. At 100 TB the df table is vocabulary-sized (≪ corpus) and
    broadcast; the tf side shuffles once on (doc, term) — no row ever
    carries the raw text past tokenization. Output restricted to
    doc_id < 40 to keep the t2 check small; the full frame is the
    library-level result."""
    docs = Catalog(spark, sf_dir)["documents"]
    n_docs = docs.count()
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tok.dropDuplicates(["doc_id", "term"]).groupBy("term").agg(
        F.count("*").alias("df")
    )
    idf = F.log((1.0 + float(n_docs)) / (1.0 + F.col("df")))
    return (
        tf.join(F.broadcast(df_t), "term")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


@register("q_train_test_split")  # rows-only: xxhash64 has no DuckDB twin
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample + leakage-safe train/test split over
    documents (operators/sampling.py): per-language fractions, membership a
    pure function of doc_id — identical on any partitioning/cluster (the
    md5-bucket variant with a full oracle is q_stratified_sample in
    relational_extra.py; this one exercises the xxhash64 operator API).
    Determinism, proportions, and split-exclusivity are pinned in
    tests/test_sampling.py."""
    from data_integration_spark.operators.sampling import (
        stratified_sample,
        train_test_split,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    lang = F.when(F.col("doc_id") % 3 == 0, "en").otherwise("other")
    tagged = docs.withColumn("lang", lang)
    sampled = stratified_sample(
        tagged, "lang", {"en": 0.5, "other": 0.2}, key_cols=["doc_id"], salt=11
    )
    return train_test_split(
        sampled, 0.25, key_cols=["doc_id"], salt=12
    ).select("doc_id", "lang", "split")


# shared edge definition for the dedup-clustering query: word-bigram
# Jaccard >= 0.05 pairs on doc_id < 60 (same bounds as q_ngram_jaccard)
_NGRAM_PAIRS_SQL = """
    tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id < 60
    ),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS s
      FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2
      WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.05
    )
"""


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_NGRAM_PAIRS_SQL},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL
      SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node, MIN(label) AS cluster FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
    FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
    LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components (iterative min-label
    propagation, dedup/components.py) over the word-bigram Jaccard pair
    edges — the step that turns pairwise near-dup hits into duplicate
    clusters with a canonical representative (min doc_id). The oracle
    computes the same transitive closure with a recursive CTE — an
    iterative distributed algorithm checked value-for-value against SQL."""
    from data_integration_spark.dedup.components import dedup_clusters

    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60)
    pairs = q_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    return dedup_clusters(docs, pairs)


@register(
    "q_paragraph_dedup",
    oracle="""
    WITH para AS (
      SELECT doc_id, u.p AS paragraph
      FROM (SELECT doc_id, string_split(text, '. ') AS ps FROM documents),
           UNNEST(ps) AS u(p)
      WHERE LENGTH(u.p) > 0
    )
    SELECT MD5(paragraph) AS para_hash,
           MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_occurrences
    FROM para GROUP BY MD5(paragraph)
    HAVING COUNT(*) > 1
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity dedup: boilerplate (headers, licenses, nav
    text) repeats across documents that are NOT near-duplicates as wholes —
    pretraining pipelines dedup at the paragraph level for exactly this.
    Explode sentences/paragraphs → fingerprint → group; only the 16-byte
    hash shuffles."""
    docs = Catalog(spark, sf_dir)["documents"]
    para = docs.select(
        "doc_id",
        F.explode(F.split("text", r"\. ")).alias("paragraph"),
    ).filter(F.length("paragraph") > 0)
    return (
        para.groupBy(F.md5("paragraph").alias("para_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


@register(
    "q_pii_redact",
    oracle="""
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(text || ' contact: u' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-000-'
                            || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM documents WHERE doc_id < 100
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email + phone patterns replaced with typed tokens —
    the redaction pass every compliant training corpus needs. Synthetic
    PII is appended deterministically so the redactor provably fires on
    every row (both engines build and scrub the same strings); pure
    regexp_replace, JVM-side."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 100)
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact: u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-000-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            with_pii,
            r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "<EMAIL>",
        ),
        r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
        "<PHONE>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "q_decontaminate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
      SELECT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
               || ' ' || ts[i+4] AS g
      FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS u(i)
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
    hits AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN eval_grams e ON c.g = e.g
      WHERE c.doc_id >= 5
    )
    SELECT doc_id FROM hits
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word 5-gram
    with the eval set (doc_id < 5 stands in for the benchmark) are flagged
    for removal — the contamination check every training corpus runs
    against its eval suites. The eval-side gram set is benchmark-sized →
    broadcast; the corpus side streams through one hash join, no shuffle
    of the corpus."""
    docs = Catalog(spark, sf_dir)["documents"]
    ts = F.split("text", " ")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(_word_grams_expr(5))
        ).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") < 5).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
    )


@register(
    "q_repetition_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS u(i)
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(DISTINCT g) AS n_distinct,
           ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
             AS repetition
    FROM grams GROUP BY doc_id
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter: 1 − distinct/total word-3-grams per doc —
    high values flag the degenerate looping text quality filters drop.
    One explode + one two-aggregate groupBy per doc; nothing leaves the
    doc's partition except the (doc, counts) row."""
    docs = Catalog(spark, sf_dir)["documents"]
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(_word_grams_expr(3))
        ).alias("g"),
    )
    return grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("g").cast("double") / F.count("*"), 6
        ).alias("repetition"),
    )


@register(
    "q_curation_pipeline",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, LEN(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    quality AS (  -- stage 1: length filter
      SELECT * FROM base WHERE n_tok >= 20
    ),
    dedup AS (    -- stage 2: exact dedup on normalized fingerprint
      SELECT MIN(doc_id) AS doc_id
      FROM quality
      GROUP BY MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))
    ),
    kept1 AS (
      SELECT q.* FROM quality q JOIN dedup d ON q.doc_id = d.doc_id
    ),
    grams AS (    -- stage 3: decontamination vs eval set (doc_id < 5)
      SELECT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
               || ' ' || ts[i+4] AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM base),
           UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS u(i)
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN (SELECT DISTINCT g FROM grams WHERE doc_id < 5) e
        ON c.g = e.g
      WHERE c.doc_id >= 5
    ),
    kept2 AS (
      SELECT k.* FROM kept1 k
      WHERE k.doc_id >= 5
        AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sampled AS (  -- stage 4: deterministic 50% hash sample
      SELECT * FROM kept2
      WHERE ((STRPOS('0123456789abcdef',
                     SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + STRPOS('0123456789abcdef',
                      SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 128
    )
    SELECT COUNT(*) AS n_docs,               -- stage 5: corpus stats
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM sampled
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the LLM-pipeline flagship, composing
    the library operators exactly as a production cleanup would:

      quality filter (≥20 tokens) → exact dedup on normalized fingerprint
      → benchmark decontamination (shared word-5-gram vs the eval set)
      → deterministic 50% hash sample → corpus statistics.

    Every stage is engine-side and deterministic, so the WHOLE pipeline is
    value-checked against one DuckDB query. Scale shape: filters are
    narrow; dedup shuffles 16-byte fingerprints; the eval gram set
    broadcasts; the sample is a filter; the stats are one aggregation."""
    docs = Catalog(spark, sf_dir)["documents"]
    base = docs.select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_tok")
    )
    quality = base.filter(F.col("n_tok") >= 20)
    # exact dedup: min doc_id per normalized fingerprint
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    keep = quality.groupBy(fp.alias("f")).agg(F.min("doc_id").alias("doc_id"))
    kept1 = quality.join(keep.select("doc_id"), "doc_id")
    # decontamination: any shared 5-gram with the eval docs
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(_word_grams_expr(5))
        ).alias("g"),
    )
    eval_grams = grams.filter(F.col("doc_id") < 5).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
    )
    kept2 = (
        kept1.filter(F.col("doc_id") >= 5)
        .join(contaminated, "doc_id", "left_anti")
    )
    # deterministic 50% sample via md5 first-byte bucket (engine-portable)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    sampled = kept2.filter(bucket < 128)
    return sampled.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.sum("n_tok").cast("double") / F.count("*"), 6).alias(
            "mean_tokens"
        ),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@register(
    "q_bigram_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.i,
             ts[u.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) d,
           UNNEST(GENERATE_SERIES(1, LEN(ts))) AS u(i)
      WHERE ts[u.i] <> ''
    ),
    train AS (SELECT * FROM tok WHERE doc_id % 4 <> 0),
    c1 AS (SELECT w, COUNT(*) AS c FROM train GROUP BY w),
    vsize AS (SELECT COUNT(*) AS v FROM c1),
    bi_train AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
      FROM train a JOIN train b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.w, b.w
    ),
    score_bi AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE a.doc_id % 4 = 0 AND a.doc_id < 40
    ),
    scored AS (
      SELECT s.doc_id,
             LN((COALESCE(bt.c, 0) + 1.0)
                / (COALESCE(c1.c, 0) + (SELECT v FROM vsize))) AS logp
      FROM score_bi s
      LEFT JOIN bi_train bt ON bt.w1 = s.w1 AND bt.w2 = s.w2
      LEFT JOIN c1 ON c1.w = s.w1
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(logp), 6) AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy filtering — the KenLM-style curation gate, fully
    in-engine and fully ORACLE-CHECKED (the model is counts, so unlike a
    neural LM every probability is exactly recomputable): train an
    add-one-smoothed bigram LM on 75% of the corpus (doc_id % 4 ≠ 0),
    score held-out docs (doc_id % 4 = 0, < 40) by mean log
    P(wᵢ | wᵢ₋₁) = (C(w₁,w₂)+1)/(C(w₁)+V). Low scores flag
    gibberish/boilerplate exactly as perplexity filters do in production
    data pipelines.

    Scale shape: bigrams are built IN-ROW (transform over the token
    array + explode — no positional self-join on the Spark side); the
    model tables are token-keyed aggregates with map-side partials; the
    scoring joins have UNIQUE right keys (bigram, unigram) so Zipf skew
    is partition-size skew only (AQE-splittable, the q_vocab_encode
    argument); V rides as one driver scalar literal. ln is engine-libm
    on both sides — transcendental outputs round at 6dp per the
    repo-wide convention."""
    docs = Catalog(spark, sf_dir)["documents"]
    # (doc_id, w1, w2) bigram pairs, built in-row then exploded
    pairs_expr = (
        "CASE WHEN size(ts) >= 2 THEN "
        "transform(sequence(1, size(ts) - 1),"
        " i -> struct(ts[i - 1] AS w1, ts[i] AS w2)) "
        "ELSE array() END"
    )
    toks = docs.select(
        "doc_id",
        F.expr(
            "filter(split(text, ' '), t -> t <> '')"
        ).alias("ts"),
    )
    bigrams = toks.select(
        "doc_id", F.explode(F.expr(pairs_expr)).alias("b")
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    train_uni = (
        toks.filter(F.col("doc_id") % 4 != 0)
        .select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    v_size = train_uni.count()  # vocab size: one driver scalar
    if v_size == 0:
        # an empty model would make every smoothed probability 1/0 —
        # fail loudly instead of emitting ±Infinity log-probs
        raise ValueError(
            "bigram LM train slice contains no tokens; widen the train "
            "split or check the tokenization"
        )
    train_bi = (
        bigrams.filter(F.col("doc_id") % 4 != 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    score = bigrams.filter(
        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") < 40)
    )
    logp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(v_size)))
    )
    return (
        score.join(train_bi, ["w1", "w2"], "left")
        .join(train_uni, score["w1"] == train_uni["w"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
        )
    )


@register(
    "q_perplexity_buckets",
    # the q_bigram_lm_score construction (counts LM — every probability
    # exactly recomputable) over the FULL held-out split, then CCNet's
    # head/middle/tail split: NTILE(3) per source on the 6dp-rounded doc
    # score with a doc_id tie-break, so the bucket assignment is
    # deterministic on both engines.
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.i,
             ts[u.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) d,
           UNNEST(GENERATE_SERIES(1, LEN(ts))) AS u(i)
      WHERE ts[u.i] <> ''
    ),
    train AS (SELECT * FROM tok WHERE doc_id % 4 <> 0),
    c1 AS (SELECT w, COUNT(*) AS c FROM train GROUP BY w),
    vsize AS (SELECT COUNT(*) AS v FROM c1),
    bi_train AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
      FROM train a JOIN train b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.w, b.w
    ),
    score_bi AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE a.doc_id % 4 = 0
    ),
    scored AS (
      SELECT s.doc_id,
             LN((COALESCE(bt.c, 0) + 1.0)
                / (COALESCE(c1.c, 0) + (SELECT v FROM vsize))) AS logp
      FROM score_bi s
      LEFT JOIN bi_train bt ON bt.w1 = s.w1 AND bt.w2 = s.w2
      LEFT JOIN c1 ON c1.w = s.w1
    ),
    doc_scores AS (
      SELECT doc_id, ROUND(AVG(logp), 6) AS avg_logp
      FROM scored GROUP BY doc_id
    ),
    bucketed AS (
      SELECT d.source, ds.avg_logp,
             NTILE(3) OVER (PARTITION BY d.source
                            ORDER BY ds.avg_logp DESC, ds.doc_id) AS nt
      FROM doc_scores ds JOIN documents d ON d.doc_id = ds.doc_id
    )
    SELECT source,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(avg_logp), 6) AS mean_logp
    FROM bucketed
    GROUP BY source, nt
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the curation move that decides
    what TRAINS vs what gets down-weighted: score every held-out document
    (doc_id % 4 = 0) with the in-engine counts LM (add-one-smoothed
    bigram, the q_bigram_lm_score model — exactly recomputable, unlike a
    neural LM), then split EACH SOURCE into head/middle/tail terciles of
    the score distribution (NTILE(3) per source on the rounded doc
    score, doc_id tie-break — deterministic cross-engine). Per-source
    bucketing is the CCNet design point: a uniformly "easy" source must
    not push another source entirely into tail. Output is the
    (source, bucket) summary a mixing policy consumes.

    Scale shape: the LM tables are token-keyed aggregates with map-side
    partials (unique-right-key joins — Zipf heat is partition-size skew
    only); per-doc scoring aggregates before the window, so the NTILE
    ranks |held-out docs| rows partitioned by source, never tokens;
    bigrams are built in-row (transform+explode, no positional
    self-join)."""
    docs = Catalog(spark, sf_dir)["documents"]
    pairs_expr = (
        "CASE WHEN size(ts) >= 2 THEN "
        "transform(sequence(1, size(ts) - 1),"
        " i -> struct(ts[i - 1] AS w1, ts[i] AS w2)) "
        "ELSE array() END"
    )
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t <> '')").alias("ts"),
    )
    bigrams = toks.select(
        "doc_id", F.explode(F.expr(pairs_expr)).alias("b")
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    train_uni = (
        toks.filter(F.col("doc_id") % 4 != 0)
        .select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    v_size = train_uni.count()
    if v_size == 0:
        raise ValueError(
            "bigram LM train slice contains no tokens; widen the train "
            "split or check the tokenization"
        )
    train_bi = (
        bigrams.filter(F.col("doc_id") % 4 != 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    score = bigrams.filter(F.col("doc_id") % 4 == 0)
    logp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(v_size)))
    )
    doc_scores = (
        score.join(train_bi, ["w1", "w2"], "left")
        .join(train_uni, score["w1"] == train_uni["w"], "left")
        .groupBy("doc_id")
        .agg(F.round(F.avg(logp), 6).alias("avg_logp"))
    )
    from pyspark.sql import Window

    bucketed = doc_scores.join(
        docs.select("doc_id", "source"), "doc_id"
    ).withColumn(
        "nt",
        F.ntile(3).over(
            Window.partitionBy("source").orderBy(
                F.col("avg_logp").desc(), F.col("doc_id")
            )
        ),
    )
    bucket = (
        F.when(F.col("nt") == 1, "head")
        .when(F.col("nt") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("source", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("avg_logp"), 6).alias("mean_logp"),
    )


@register(
    "q_quality_classifier",
    # convergence certificate for an IN-ENGINE trained quality classifier
    # (the q_glm_convergence pattern applied to the LLM-curation use
    # case): β̂ stays optimizer floats, the score equations it must
    # satisfy are a distributed aggregation that rounds to literal 0.0.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(9 AS BIGINT) AS n_params,
           CAST(0.0 AS DOUBLE) AS score_inf_norm
    FROM documents
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a fastText-style document-quality classifier IN-ENGINE and
    certify the fit: hashed bag-of-words features (8 hash buckets of
    token fractions — the hashing trick, vocabulary-free), deterministic
    noisy labels from a known model (hash-Bernoulli — the engine's R2
    primitive), logistic regression by damped Newton where every
    (f, grad, Hessian) evaluation is ONE Spark aggregation over the
    feature table (the stats layer's §2.13 shape re-used for a curation
    op). The emitted certificate is the MLE first-order condition:
    round(‖X'(y − p̂)‖∞ / n, 2) == 0.0 plus full-corpus consumption —
    a training-path regression breaks the driver hash.

    Scale shape: features are built IN-ROW (8 HOF filters over the token
    array — no explode, no shuffle); each Newton iteration is one
    map-side-combinable agg (1+9+45 sums); nothing data-sized reaches
    the driver."""
    import numpy as np

    from data_integration_spark.functions.math import expit
    from data_integration_spark.functions.rng import bernoulli
    from data_integration_spark.stats.optimize import newton_minimize

    D = 8
    docs = Catalog(spark, sf_dir)["documents"]
    ts = F.expr("filter(split(text, ' '), t -> t <> '')")
    n_tok = F.greatest(F.size(ts), F.lit(1)).cast("double")
    feats = docs.select(
        "doc_id",
        *[
            (
                F.size(
                    F.filter(ts, lambda t: F.pmod(F.xxhash64(t), F.lit(D)) == d)
                )
                / n_tok
            ).alias(f"x{d}")
            for d in range(D)
        ],
    )
    # deterministic noisy labels from a known sparse model (R2 primitive)
    xb_true = -0.4 + 3.0 * F.col("x0") - 3.0 * F.col("x1") + 1.5 * F.col("x2")
    labeled = feats.withColumn(
        "y", bernoulli(expit(xb_true), "doc_id", salt=21).cast("double")
    ).cache()
    n_docs = labeled.count()

    P = D + 1
    # r15b: each (f, grad, Hessian) evaluation builds its 55 aggregate
    # expressions as parsed SQL strings — the Column form cost ~0.5 s of
    # py4j round-trips PER NEWTON ITERATION (measured; same build-chatter
    # fix as the minhash signatures and hyperplane buckets). Bit-identity
    # of all 55 sums against the retired Column form was verified on the
    # live table for three β vectors (repr() round-trips each double;
    # the parsed trees are structurally identical, so codegen matches).
    xstr = ["1.0D"] + [f"x{d}" for d in range(D)]

    def fgh(b: np.ndarray):
        # r16 (ADVICE r15): a non-finite iterate would render 'infD'/'nanD'
        # and fail SQL parsing where the retired F.lit produced a valid
        # literal — fail with a diagnosable message instead of a parse error
        if not np.isfinite(b).all():
            raise ValueError(
                f"newton iterate has non-finite coefficients: {b.tolist()!r}"
            )
        xb = f"{float(b[0])!r}D"
        for j in range(1, P):
            xb = f"({xb} + (x{j - 1} * {float(b[j])!r}D))"
        p = f"(1.0D / (1.0D + exp(-({xb}))))"
        sp_pos = (
            f"(CASE WHEN ({xb} > 30) THEN {xb}"
            f" ELSE log1p(exp(least({xb}, 30.0D))) END)"
        )
        sp_neg = (
            f"(CASE WHEN ((-({xb})) > 30) THEN (-({xb}))"
            f" ELSE log1p(exp(least(-({xb}), 30.0D))) END)"
        )
        nll = f"((y * {sp_neg}) + ((1 - y) * {sp_pos}))"
        resid = f"({p} - y)"
        curv = f"({p} * (1.0D - {p}))"
        aggs = [F.expr(f"sum({nll}) AS f")]
        for j in range(P):
            aggs.append(F.expr(f"sum(({resid} * {xstr[j]})) AS g{j}"))
        for j in range(P):
            for l in range(j, P):
                aggs.append(
                    F.expr(
                        f"sum((({curv} * {xstr[j]}) * {xstr[l]})) AS h{j}_{l}"
                    )
                )
        row = labeled.agg(*aggs).collect()[0]
        g = np.array([row[f"g{j}"] for j in range(P)])
        H = np.zeros((P, P))
        for j in range(P):
            for l in range(j, P):
                H[j, l] = H[l, j] = row[f"h{j}_{l}"]
        return float(row["f"]), g, H

    # every Newton evaluation is one map-side-combined GLOBAL aggregation
    # to a SINGLE row (1+P+P(P+1)/2 sums; Spark plans a single-partition
    # final stage for ungrouped aggs at any scale) — AQE re-planning per
    # iteration is pure overhead (r15, same rationale as the unigram/BPE
    # trainer loops; no shuffle_partitions pin needed, no grouped
    # exchange in the window)
    from data_integration_spark.session import bounded_loop_conf

    with bounded_loop_conf(spark):
        beta = newton_minimize(fgh, np.zeros(P))
        _, g_final, _ = fgh(beta)
    score_inf_norm = float(np.max(np.abs(g_final))) / n_docs
    labeled.unpersist()

    return local_table(
        spark,
        [
            {
                "n_docs": n_docs,
                "n_params": P,
                "score_inf_norm": round(score_inf_norm, 2),
            }
        ],
        "n_docs long, n_params long, score_inf_norm double",
    )


@register(
    "q_dsir_importance",
    oracle="""
    WITH tk AS (
      SELECT doc_id, source, t
      FROM (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    tc AS (SELECT t, COUNT(*) AS c FROM tk WHERE source = 'src0' GROUP BY t),
    sc AS (SELECT t, COUNT(*) AS c FROM tk WHERE source <> 'src0' GROUP BY t),
    v AS (SELECT COUNT(DISTINCT t) AS nv FROM tk),
    nt AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS n_t,
                  (SELECT COALESCE(SUM(c), 0) FROM sc) AS n_s)
    SELECT tk.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(LN((COALESCE(tc.c, 0) + 1.0) / (nt.n_t + v.nv))
                     - LN((COALESCE(sc.c, 0) + 1.0) / (nt.n_s + v.nv))), 6)
             AS log_importance,
           CAST(CASE WHEN SUM(LN((COALESCE(tc.c, 0) + 1.0) / (nt.n_t + v.nv))
                              - LN((COALESCE(sc.c, 0) + 1.0)
                                   / (nt.n_s + v.nv))) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM tk
    LEFT JOIN tc ON tc.t = tk.t
    LEFT JOIN sc ON sc.t = tk.t, nt, v
    GROUP BY tk.doc_id
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document
    log importance weight log p_target(doc) − log p_source(doc) under
    two add-one-smoothed unigram LMs — target = the 'src0' slice,
    source = the rest — plus the selection flag (target-leaning docs).
    This is the domain-targeted data-selection gate: resampling by these
    weights shifts a 100 TB generalist crawl toward a target domain.

    Counts-based like q_bigram_lm_score, so fully value-checkable.
    Scale shape: two token-count aggregations (one shuffle each,
    map-side partials); V / N_target / N_source are three driver
    scalars embedded as literals; scoring is ONE pass over the exploded
    corpus with two token-keyed left joins (unique right keys — Zipf
    skew is partition-size skew only, AQE-splittable) folded into a
    per-doc aggregation. Nothing driver-sized anywhere."""
    docs = Catalog(spark, sf_dir)["documents"]
    tk = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    tc = (
        tk.filter(F.col("source") == "src0")
        .groupBy("t")
        .agg(F.count("*").alias("tc"))
    )
    sc = (
        tk.filter(F.col("source") != "src0")
        .groupBy("t")
        .agg(F.count("*").alias("sc"))
    )
    scal = tk.agg(
        F.countDistinct("t").alias("nv"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0)).alias("n_s"),
    ).collect()[0]
    nv, n_t, n_s = float(scal["nv"]), float(scal["n_t"]), float(scal["n_s"])
    lw_term = F.log(
        (F.coalesce("tc", F.lit(0)) + 1.0) / F.lit(n_t + nv)
    ) - F.log((F.coalesce("sc", F.lit(0)) + 1.0) / F.lit(n_s + nv))
    return (
        tk.join(tc, "t", "left")
        .join(sc, "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lw_term), 6).alias("log_importance"),
            (F.sum(lw_term) > 0).cast("long").alias("selected"),
        )
    )


_NBQ_ORACLE_BODY = """
WITH s AS (
  SELECT doc_id, text,
         CAST(LENGTH(text) AS BIGINT) AS nc,
         CAST(LENGTH(REPLACE(text, ' the ', '')) AS BIGINT) AS r_the,
         CAST(LENGTH(REPLACE(text, ' a ', '')) AS BIGINT) AS r_a,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS nt
  FROM documents
),
lab AS (
  SELECT doc_id, text,
         CASE WHEN 30*nt*nt + 1200*(nc - nt + 1)
                   - 2000*(nc - r_the) - 4000*(nc - r_a) > 0
              THEN 1 ELSE 0 END AS label
  FROM s
),
tok AS (
  SELECT doc_id, label, t.tok
  FROM lab, UNNEST(STRING_SPLIT(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tc AS (
  SELECT tok,
         CAST(SUM(label) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(label) AS BIGINT) AS n0
  FROM tok GROUP BY tok HAVING COUNT(*) >= 3
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(n1) AS BIGINT) AS bign1,
         CAST(SUM(n0) AS BIGINT) AS bign0
  FROM tc
),
w AS (
  SELECT tok,
         CAST(ROUND((LN((n1 + 0.5) / (bign1 + 0.5 * v))
                   - LN((n0 + 0.5) / (bign0 + 0.5 * v))) * 1e6)
              AS BIGINT) AS w_fp
  FROM tc, tot
),
prior AS (
  SELECT CAST(ROUND(LN((SUM(label) + 0.5)
                     / (COUNT(*) - SUM(label) + 0.5)) * 1e6)
              AS BIGINT) AS prior_fp
  FROM lab
),
dt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
),
ds AS (
  SELECT t.doc_id, CAST(SUM(w.w_fp) AS BIGINT) AS llr
  FROM tok t JOIN w USING (tok) GROUP BY t.doc_id
)
"""

# body + final split (r14): q_quality_calibration reuses every CTE up to
# ds; composing keeps the LIVE q_quality_nb_filter oracle text identical
_NBQ_ORACLE = (
    _NBQ_ORACLE_BODY
    + """
SELECT dt.doc_id, dt.n_tok,
       CAST(COALESCE(ds.llr, 0) AS BIGINT) AS llr_fp,
       ROUND(1.0 / (1.0 + EXP(-((SELECT prior_fp FROM prior)
                 + COALESCE(ds.llr, 0) * 1.0 / dt.n_tok) / 1e6)), 6) AS prob,
       CAST(CASE WHEN (SELECT prior_fp FROM prior) * dt.n_tok
                      + COALESCE(ds.llr, 0) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM dt LEFT JOIN ds ON dt.doc_id = ds.doc_id
"""
)


@register("q_quality_nb_filter", oracle=_NBQ_ORACLE)
def q_quality_nb_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrapped NB quality-FILTER scoring (CCNet / GPT-3-style
    model-based filter; LIVE since the r14 flip, leading that round's signing window; distinct from the
    r7-signed q_quality_classifier, which TRAINS a hashed logistic by
    damped Newton — this op is the label-bootstrap + NB-weight scoring
    pipeline over the raw token vocabulary): the q_quality_score
    heuristic provides deterministic SEED labels via an integer sign
    test, one multinomial-NB pass turns them into per-token FIXED-POINT
    log-odds weights (df-capped vocab, Laplace 0.5), and the scoring
    pass applies the weight table to every document — integer llr sums,
    an integer keep decision, and a 6-decimal posterior.

    Full oracle: DuckDB re-runs label → contingency → weights → score
    from scratch; the only floats are LN/EXP scalars on bit-identical
    inputs, rounded on the registry's 6-decimal grid, and every
    DECISION column (label, keep) plus llr_fp is 64-bit-integer exact
    in both engines (see operators/nb_classifier.py for the scale and
    exactness design)."""
    from data_integration_spark.operators.nb_classifier import (
        nb_quality_classifier,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    return nb_quality_classifier(docs, min_df=3)


# --- NB-filter operating-point calibration (staged r14, LIVE r15) --------
# VERDICT r13 #5 option (a): the learned-filter THRESHOLD CALIBRATION
# sweep — the precision / keep-rate curve a curation team reads to pick
# the filter's operating point (GPT-3 appendix A picks by Pareto
# document quality vs corpus size; DSIR-style resampling needs the same
# curve to set its acceptance scale). Every decision is the integer
# sign test prior_fp·n_tok + llr_fp > τ_fp·n_tok on the fixed-point
# grid, so the whole sweep is reduction-order-proof; the three rates
# are exact-integer ratios rounded at 6.
_NBQ_CALIB_ORACLE = (
    _NBQ_ORACLE_BODY
    + """
, scored AS (
  SELECT dt.doc_id, dt.n_tok,
         CAST(COALESCE(ds.llr, 0) AS BIGINT) AS llr_fp,
         l.label
  FROM dt
  LEFT JOIN ds ON dt.doc_id = ds.doc_id
  JOIN lab l ON l.doc_id = dt.doc_id
),
thr AS (
  SELECT CAST(t.t AS BIGINT) AS thr_fp
  FROM UNNEST([-1000000, -500000, -250000, 0,
               250000, 500000, 1000000]) AS t(t)
),
sw AS (
  SELECT thr_fp, n_tok, llr_fp, label,
         CASE WHEN (SELECT prior_fp FROM prior) * n_tok + llr_fp
                   > thr_fp * n_tok
              THEN 1 ELSE 0 END AS kp
  FROM scored CROSS JOIN thr
)
SELECT thr_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kp) AS BIGINT) AS n_keep,
       ROUND(SUM(kp) * 1.0 / COUNT(*), 6) AS keep_rate,
       CAST(SUM(label) AS BIGINT) AS n_seed_pos,
       CAST(SUM(kp * label) AS BIGINT) AS n_keep_seed_pos,
       ROUND(SUM(kp * label) * 1.0 / NULLIF(SUM(kp), 0), 6) AS precision,
       ROUND(SUM(kp * label) * 1.0 / NULLIF(SUM(label), 0), 6) AS recall
FROM sw
GROUP BY thr_fp
"""
)

#: fixed-point thresholds on the mean-log-odds scale (τ · 1e6)
_CALIB_THRS = [-1_000_000, -500_000, -250_000, 0, 250_000, 500_000, 1_000_000]


@register("q_quality_calibration", oracle=_NBQ_CALIB_ORACLE)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality-filter threshold calibration sweep (staged r14, live r15):
    per fixed-point threshold τ_fp — documents kept, keep rate, and
    precision/recall against the seed labels, where keep means
    mean log-odds + prior > τ (the integer sign test
    prior_fp·n_tok + llr_fp > τ_fp·n_tok, exact on both engines).
    Scale shape: the classifier's single-corpus-scan lineage + one
    broadcast cross with the 7-row threshold frame + one map-side
    combined groupBy(thr_fp) — the sweep costs one pass over the
    scored frame regardless of how many operating points it rates."""
    from data_integration_spark.operators.nb_classifier import (
        nb_quality_classifier,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    # include_label rides the classifier's OWN single-corpus-scan
    # lineage (the label is a group key of the shared exchange) — a
    # separate seed-label projection would re-scan the corpus and
    # re-run the label regexes, precisely the shape VERDICT r13 #4
    # removed (r14 review pass 2)
    nb = nb_quality_classifier(
        docs, min_df=3, include_prior=True, include_label=True
    )
    thr = local_table(
        spark,
        [(t,) for t in _CALIB_THRS], "thr_fp long"
    )
    kp = (
        F.col("prior_fp") * F.col("n_tok") + F.col("llr_fp")
        > F.col("thr_fp") * F.col("n_tok")
    ).cast("long")
    return (
        nb.crossJoin(F.broadcast(thr))
        .withColumn("kp", kp)
        .groupBy("thr_fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("kp").cast("long").alias("n_keep"),
            F.round(F.sum("kp") * 1.0 / F.count("*"), 6).alias("keep_rate"),
            F.sum("label").cast("long").alias("n_seed_pos"),
            F.sum(F.col("kp") * F.col("label"))
            .cast("long")
            .alias("n_keep_seed_pos"),
            F.round(
                F.sum(F.col("kp") * F.col("label"))
                * 1.0
                / F.nullif(F.sum("kp"), F.lit(0)),
                6,
            ).alias("precision"),
            F.round(
                F.sum(F.col("kp") * F.col("label"))
                * 1.0
                / F.nullif(F.sum("label"), F.lit(0)),
                6,
            ).alias("recall"),
        )
    )
