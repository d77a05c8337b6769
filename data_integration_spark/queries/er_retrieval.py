"""Entity-resolution blocking and retrieval-fusion block: prefix-filter
set-similarity self-join (the exact-recall scale path past LSH),
sorted-neighborhood blocking (the third classic blocking family next to
banded MinHash and SimHash), reciprocal-rank fusion of two rankings, and
Welch's unequal-variance t-test. All full-oracle; thresholds are checked
in INTEGER arithmetic so no float comparison can diverge between engines.

Reference parity: the reference notebook (Method_code.Rmd) has no ER or
retrieval surface — these are the training-data-pipeline extensions the
build brief asks for (dedup/similarity as first-class components),
composed from the same operator families as the §2 core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_setsim_prefix_join",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh_raw AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS u(i)
    ),
    dfreq AS (SELECT g, COUNT(*) AS df FROM sh_raw GROUP BY g),
    sh AS (
      SELECT s.doc_id, s.g FROM sh_raw s JOIN dfreq USING (g)
      WHERE dfreq.df <= 150
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.c AS BIGINT) AS inter_size,
           CAST(sa.s AS BIGINT) AS size_a,
           CAST(sb.s AS BIGINT) AS size_b,
           ROUND(CAST(i.c AS DOUBLE) / (sa.s + sb.s - i.c), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 3 * i.c >= sa.s + sb.s
    """,
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (word-trigram Jaccard >= 0.5) via
    PREFIX FILTERING (Chaudhuri et al. 2006; Vernica et al. 2010) — the
    exact-recall alternative to banded MinHash: every qualifying pair is
    found BY THEOREM, not with probability.

    Method: each doc's (df-capped) trigram set is sorted by a global
    canonical order (document frequency asc, gram asc — rarest first);
    a doc of set size s keeps only its first ``s - ceil(t*s) + 1``
    tokens as its PREFIX. For J(A,B) >= t the shared-token count obeys
    o >= t*max(|A|,|B|), so the globally-smallest shared token must lie
    inside BOTH prefixes (if it were outside A's prefix, all o shared
    tokens would sit among A's last ceil(t*|A|)-1 tokens — fewer than
    o). Candidates are therefore only pairs sharing a PREFIX token, plus
    the size-compatibility prune 2*min(s1,s2) >= max(s1,s2); each
    candidate is verified with an in-row ``array_intersect`` and the
    integer test 3c >= s1+s2 (== J >= 1/2 exactly — no float compare).

    The df-cap (drop grams in > 150 docs, both engines) is the same
    bounded-recall trade documented at q_ngram_jaccard: it bounds every
    candidate bucket at O(cap^2) pairs so a stopword-grade gram cannot
    go quadratic; exactness is with respect to the capped sets (the cap
    does not bind on this corpus at any test SF — max trigram df ~25).

    Scale shape vs q_ngram_jaccard (which verifies every pair sharing
    ANY capped shingle): the prefix join's pair space shrinks from
    sum(df^2) over all tokens to sum over PREFIX occurrences only —
    rare-first ordering makes prefix buckets the rarest tokens, so
    candidate volume tracks true near-dup density. Everything else is
    groupBy with map-side partials + equi-joins; per-doc state (the
    sorted token array) is bounded by doc length.

    Oracle: brute-force over ALL intersecting pairs (different
    algorithm, same spec) — the hash match IS the exact-recall theorem
    checked end-to-end."""
    docs = Catalog(spark, sf_dir)["documents"]
    # split ONCE per row (a transform lambda that re-calls split(text)
    # per index is O(len^2) per doc), and take the doc-keyed exchange
    # BEFORE the CPU-heavy shingle explode: a small parquet input scans
    # as few partitions, and this same partitioning is exactly what the
    # downstream per-doc collect_list needs — one exchange, two jobs
    sh_raw = (
        docs.select("doc_id", F.split("text", " ").alias("ts"))
        .repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    " sequence(1, greatest(size(ts) - 2, 1)),"
                    " i -> concat(try_element_at(ts, i), ' ',"
                    "            try_element_at(ts, i + 1), ' ',"
                    "            try_element_at(ts, i + 2))))"
                )
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    # global document frequency per gram: groupBy (map-side partials) then
    # token-keyed join back — hot keys are partition-size skew only
    # (unique right key), the q_vocab_encode shape
    dfreq = sh_raw.groupBy("g").agg(F.count("*").alias("df"))
    sh = sh_raw.join(dfreq.filter(F.col("df") <= 150), "g")
    # per-doc canonical-order token array + size; prefix length
    # p = s - ceil(t*s) + 1 = s div 2 + 1  (t = 1/2, integer arithmetic)
    sets_lazy = (
        sh.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, g))),"
                " x -> x.g)"
            ).alias("toks")
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("s"),
        )
        .withColumn(
            "prefix",
            F.expr("slice(toks, 1, CAST(s DIV 2 AS INT) + 1)"),
        )
    )
    # deliberately LAZY: the three consumers (prefix explode + both
    # verify sides) share identical aggregation subtrees, which Spark
    # executes ONCE via ReusedExchange — measured 2-3x faster than a
    # scratch materialization round-trip (a deployment would still
    # persist the per-release set table, but within one job the engine's
    # own reuse is the right mechanism)
    sets = sets_lazy
    pre = sets.select(
        "doc_id", "s", F.explode("prefix").alias("g")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size compatibility for J >= 1/2: 2*min >= max
            & (
                2 * F.least(F.col("a.s"), F.col("b.s"))
                >= F.greatest(F.col("a.s"), F.col("b.s"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("s").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("s").alias("size_b"),
    )
    c = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", c.cast("long"))
        .filter(3 * F.col("inter_size") >= F.col("size_a") + F.col("size_b"))
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            F.round(
                F.col("inter_size").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "q_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY text, doc_id) AS rn
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
           CAST(levenshtein(SUBSTR(a.text, 1, 80),
                            SUBSTR(b.text, 1, 80)) AS BIGINT) AS lev
    FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 3
    WHERE levenshtein(SUBSTR(a.text, 1, 80), SUBSTR(b.text, 1, 80)) <= 20
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernandez & Stolfo 1995): sort
    the corpus by a blocking key (here the text itself), compare each
    record only with its w-1 = 3 successors in sort order, keep pairs
    whose truncated-prefix Levenshtein distance is <= 20. The third
    classic blocking family alongside banded MinHash (q_dedup_minhash)
    and SimHash pigeonhole (q_simhash_near_pairs): candidate volume is
    EXACTLY n*(w-1) regardless of data distribution — the only blocking
    scheme with a worst-case-linear candidate guarantee (the trade:
    recall is bounded by sort-key locality, so it catches edits that
    preserve the key prefix; production systems run several passes with
    different keys).

    Scale shape: the global sort rides ``range_row_number`` (range
    exchange + per-partition windows, no single-task funnel); the
    neighbor pairing is ONE equi-join on the shifted rank (rank+delta
    explode on the probe side, delta in 1..3 — a 3x bounded fan-out);
    the Levenshtein verify runs on 80-char prefixes so per-pair cost is
    O(80^2) bounded. Nothing data-proportional reaches the driver
    beyond the prefix family's #partitions offsets."""
    from data_integration_spark.operators.prefix import range_row_number

    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    ranked = range_row_number(
        docs, [F.col("text"), F.col("doc_id")], out_col="rn"
    )
    # probe side: each row addresses its 3 successors by absolute rank
    probe = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("d"),
    ).withColumn("rn", F.col("rn_a") + F.col("d"))
    lev = F.levenshtein(
        F.substring("text_a", 1, 80), F.substring("text", 1, 80)
    )
    return (
        probe.join(ranked, "rn")
        .withColumn("lev", lev.cast("long"))
        .filter(F.col("lev") <= 20)
        .select(
            "doc_a",
            F.col("doc_id").alias("doc_b"),
            F.col("d").cast("long").alias("rank_dist"),
            "lev",
        )
    )


@register(
    "q_rank_fusion",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             LEN(LIST(DISTINCT t.tk)) AS n_distinct
      FROM documents,
           UNNEST(string_split(text, ' ')) AS t(tk)
      GROUP BY doc_id, n_chars
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
               AS rank_len,
             ROW_NUMBER() OVER (ORDER BY n_distinct DESC, doc_id)
               AS rank_div
      FROM scored
    )
    SELECT doc_id, rank_len, rank_div,
           ROUND(1.0 / (60 + rank_len) + 1.0 / (60 + rank_div), 6)
             AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two document
    rankings — the standard way to merge lexical and semantic retrieval
    lists without score calibration: rrf(d) = sum_i 1/(k + rank_i(d)),
    k = 60. Rankings here: by length (n_chars desc) and by lexical
    diversity (distinct token count desc), doc_id tie-break; top-20 by
    fused score.

    Scale shape: the two GLOBAL rankings ride
    ``range_row_number_multi`` — one range exchange + #partitions
    offsets job per ordering, all ranged intermediates held live inside
    ONE top-level prefix call (the module cache contract forbids
    merging two sequential calls), then merged by doc_id equi-joins.
    The final top-20 is TakeOrderedAndProject. The rrf score is two
    reciprocals of integer ranks — identical float arithmetic in both
    engines before the 6dp round."""
    from data_integration_spark.operators.prefix import (
        range_row_number_multi,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
    )
    ranked = range_row_number_multi(
        scored,
        ["doc_id"],
        [
            ([F.col("n_chars").desc(), F.col("doc_id")], "rank_len"),
            ([F.col("n_distinct").desc(), F.col("doc_id")], "rank_div"),
        ],
    )
    rrf = F.round(
        1.0 / (60 + F.col("rank_len")) + 1.0 / (60 + F.col("rank_div")), 6
    )
    return (
        ranked.select("doc_id", "rank_len", "rank_div", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


@register(
    "q_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, AVG(value) AS m
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type
    ),
    ss AS (
      SELECT e.event_type,
             SUM((e.value - g.m) * (e.value - g.m)) AS ss
      FROM events e JOIN g ON g.event_type = e.event_type
      GROUP BY e.event_type
    ),
    s AS (
      SELECT g.event_type, g.n, g.m, ss.ss / (g.n - 1) AS v
      FROM g JOIN ss ON ss.event_type = g.event_type
    ),
    w AS (
      SELECT p.n AS n1, c.n AS n2,
             p.m AS m1, c.m AS m2,
             p.v / p.n + c.v / c.n AS se2,
             p.v / p.n AS a, c.v / c.n AS b,
             p.n AS np, c.n AS nc
      FROM (SELECT * FROM s WHERE event_type = 'purchase') p,
           (SELECT * FROM s WHERE event_type = 'click') c
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(m1, 6) AS mean1, ROUND(m2, 6) AS mean2,
           ROUND((m1 - m2) / SQRT(se2), 6) AS t_stat,
           ROUND(se2 * se2 / (a * a / (np - 1) + b * b / (nc - 1)), 6)
             AS df_welch
    FROM w
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: does mean event value
    differ between purchases and clicks? Emits (n1, n2, mean1, mean2, t,
    Welch–Satterthwaite df) as a one-row certificate. Completes the
    two-sample battery next to the rank-based q_mann_whitney (which
    needs no normality) and the pooled-variance z of
    q_ab_conversion_ztest (proportions).

    Numerics: the same two-pass sum-of-squares discipline as q_anova —
    group means first, then squared deviations against the joined-back
    mean (stable at any magnitude; the textbook E[x^2]-E[x]^2 identity
    cancels catastrophically at scale).

    Scale shape: one grouped aggregation (2 rows), one broadcast join of
    the 2-row mean table back onto the filtered fact scan, then scalar
    algebra on a 1-row frame. The fact table is scanned twice and never
    shuffled on a data-sized key."""
    ev = (
        Catalog(spark, sf_dir)["events"]
        .filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "value")
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m")
    )
    ss = (
        ev.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("value") - F.col("m")) * (F.col("value") - F.col("m"))
            ).alias("ss")
        )
    )
    s = g.join(ss, "event_type").withColumn(
        "v", F.col("ss") / (F.col("n") - 1)
    )
    p = s.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    c = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    w = p.crossJoin(c).select(
        "n1",
        "n2",
        "m1",
        "m2",
        (F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")).alias("se2"),
        (F.col("v1") / F.col("n1")).alias("a"),
        (F.col("v2") / F.col("n2")).alias("b"),
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("m1", 6).alias("mean1"),
        F.round("m2", 6).alias("mean2"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt("se2"), 6).alias(
            "t_stat"
        ),
        F.round(
            F.col("se2")
            * F.col("se2")
            / (
                F.col("a") * F.col("a") / (F.col("n1") - 1)
                + F.col("b") * F.col("b") / (F.col("n2") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


@register(
    "q_tfidf_knn",
    oracle="""
    WITH tf AS (
      SELECT doc_id, u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts
            FROM documents),
           UNNEST(ts) AS u(t)
      GROUP BY doc_id, u.t
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * LN((1.0 + n.n_docs) / (1.0 + dfreq.df)) AS w
      FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN n
    ),
    nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
    dot AS (
      SELECT q.doc_id AS q_id, d.doc_id AS d_id, SUM(q.w * d.w) AS dot
      FROM w q JOIN w d ON d.term = q.term AND d.doc_id <> q.doc_id
      WHERE q.doc_id < 20
      GROUP BY q.doc_id, d.doc_id
    ),
    scored AS (
      SELECT dot.q_id, dot.d_id,
             ROUND(dot.dot / (nq.nrm * nd.nrm), 6) AS cosine
      FROM dot
      JOIN nrm nq ON nq.doc_id = dot.q_id
      JOIN nrm nd ON nd.doc_id = dot.d_id
    ),
    ranked AS (
      SELECT q_id, d_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, d_id) AS rk
      FROM scored
    )
    SELECT q_id AS query_doc, d_id AS neighbor_doc, cosine,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def q_tfidf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector k-nearest-neighbors: top-3 TF-IDF cosine neighbors
    per query doc through the INVERTED INDEX — the lexical-retrieval
    sibling of the dense ANN stack (q_ann_*): partial dot products
    accumulate over the shared-term postings join, never over a dense
    |docs|x|docs| space. Same tokenization and smoothed idf as q_tfidf
    (ln((1+N)/(1+df))); ranking uses the 6dp-ROUNDED cosine with d_id
    tie-break (the q_hard_negatives discipline — an unrounded float
    rank could flip near-ties between engines).

    Scale shape: the postings self-join's partial-product volume is
    sum over terms of q_postings(t) * df(t) — bounded by |queries| *
    max-df, linear in corpus size for a bounded query block; a
    stopword-grade term inflates partition sizes only (AQE-splittable;
    a production deployment adds the impact-ordered df-cap exactly as
    q_ngram_jaccard documents). Per-doc norms are a doc-keyed
    aggregation; top-3 is a per-query window (never global)."""
    docs = Catalog(spark, sf_dir)["documents"]
    # parallelize the CPU-heavy tokenize+explode beyond the small
    # input's scan partitioning (the q_setsim_prefix_join fix)
    tf = (
        docs.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        (
            F.col("tf")
            * F.log((1.0 + F.lit(n_docs)) / (1.0 + F.col("df")))
        ).alias("w"),
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    q = (
        w.filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("q_id"),
            "term",
            F.col("w").alias("wq"),
        )
    )
    d = w.select(
        F.col("doc_id").alias("d_id"), "term", F.col("w").alias("wd")
    )
    dot = (
        q.join(d, "term")
        .filter(F.col("d_id") != F.col("q_id"))
        .groupBy("q_id", "d_id")
        .agg(F.sum(F.col("wq") * F.col("wd")).alias("dot"))
    )
    scored = (
        dot.join(
            nrm.select(F.col("doc_id").alias("q_id"), F.col("nrm").alias("nq")),
            "q_id",
        )
        .join(
            nrm.select(F.col("doc_id").alias("d_id"), F.col("nrm").alias("nd")),
            "d_id",
        )
        .select(
            "q_id",
            "d_id",
            F.round(F.col("dot") / (F.col("nq") * F.col("nd")), 6).alias(
                "cosine"
            ),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "d_id")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            F.col("q_id").alias("query_doc"),
            F.col("d_id").alias("neighbor_doc"),
            "cosine",
            F.col("rk").cast("long").alias("rk"),
        )
    )


@register(
    "q_sorted_neighborhood_multipass",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY text, doc_id) AS rn_f,
             ROW_NUMBER() OVER (ORDER BY REVERSE(text), doc_id) AS rn_r
      FROM documents
    ),
    p1 AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.text AS ta, b.text AS tb
      FROM ranked a JOIN ranked b ON b.rn_f - a.rn_f BETWEEN 1 AND 3
    ),
    p2 AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.text AS ta, b.text AS tb
      FROM ranked a JOIN ranked b ON b.rn_r - a.rn_r BETWEEN 1 AND 3
    ),
    cand AS (
      -- swap the text columns TOGETHER with the ids: a pair found in
      -- opposite relative order by the two passes must land in ONE group
      SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
             CASE WHEN da <= db THEN ta ELSE tb END AS ta,
             CASE WHEN da <= db THEN tb ELSE ta END AS tb,
             MAX(p) AS found_pass1, MAX(1 - p) AS found_pass2
      FROM (
        SELECT da, db, ta, tb, 1 AS p FROM p1
        UNION ALL
        SELECT da, db, ta, tb, 0 AS p FROM p2
      )
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(SUBSTR(ta, 1, 80), SUBSTR(tb, 1, 80))
                AS BIGINT) AS lev,
           CAST(found_pass1 AS BIGINT) AS found_pass1,
           CAST(found_pass2 AS BIGINT) AS found_pass2
    FROM cand
    WHERE levenshtein(SUBSTR(ta, 1, 80), SUBSTR(tb, 1, 80)) <= 20
    """,
)
def q_sorted_neighborhood_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted-neighborhood blocking — the standard answer to
    the single-pass method's locality bound (q_sorted_neighborhood
    misses pairs whose sort-key PREFIX differs): a second pass sorts by
    the REVERSED text, catching pairs that agree at the tail; candidates
    are the union, each match flagged with the pass(es) that found it —
    so the output itself measures what the second key buys.

    Both global rankings ride ONE ``range_row_number_multi`` call (the
    two-orderings-in-one-plan case the operator exists for); each pass's
    neighbor pairing is an equi-join on its shifted rank with a 3x
    bounded fan-out; pairs normalize to (min, max) before the verify so
    the two passes dedupe exactly. Candidate volume stays worst-case
    2 * 3 * n."""
    from data_integration_spark.operators.prefix import (
        range_row_number_multi,
    )

    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    ranked = range_row_number_multi(
        docs,
        ["doc_id"],
        [
            ([F.col("text"), F.col("doc_id")], "rn_f"),
            ([F.reverse(F.col("text")), F.col("doc_id")], "rn_r"),
        ],
    )
    deltas = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))

    def pass_pairs(rank_col: str, flag: int):
        probe = ranked.select(
            F.col("doc_id").alias("da"),
            F.col("text").alias("ta"),
            F.col(rank_col).alias("rn_a"),
            deltas.alias("d"),
        ).withColumn(rank_col, F.col("rn_a") + F.col("d"))
        return probe.join(
            ranked.select("doc_id", "text", rank_col), rank_col
        ).select(
            F.col("da"),
            F.col("doc_id").alias("db"),
            F.col("ta"),
            F.col("text").alias("tb"),
            F.lit(flag).alias("p"),
        )

    both = pass_pairs("rn_f", 1).unionAll(pass_pairs("rn_r", 0))
    # normalize the TEXT columns together with the ids — a pair whose
    # forward and reversed sort orders disagree is emitted (x,y) by one
    # pass and (y,x) by the other; id-only normalization would split it
    # into two rows with complementary pass flags
    fwd = F.col("da") <= F.col("db")
    cand = (
        both.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.when(fwd, F.col("ta")).otherwise(F.col("tb")).alias("ta"),
            F.when(fwd, F.col("tb")).otherwise(F.col("ta")).alias("tb"),
            "p",
        )
        .groupBy("doc_a", "doc_b", "ta", "tb")
        .agg(
            F.max("p").alias("found_pass1"),
            F.max(1 - F.col("p")).alias("found_pass2"),
        )
    )
    lev = F.levenshtein(
        F.substring("ta", 1, 80), F.substring("tb", 1, 80)
    )
    return (
        cand.withColumn("lev", lev.cast("long"))
        .filter(F.col("lev") <= 20)
        .select(
            "doc_a",
            "doc_b",
            "lev",
            F.col("found_pass1").cast("long").alias("found_pass1"),
            F.col("found_pass2").cast("long").alias("found_pass2"),
        )
    )


@register(
    "q_spearman_rank_corr",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             LEN(LIST(DISTINCT t.tk)) AS n_distinct
      FROM documents,
           UNNEST(string_split(text, ' ')) AS t(tk)
      GROUP BY doc_id, n_chars
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS ra,
             ROW_NUMBER() OVER (ORDER BY n_distinct DESC, doc_id) AS rb
      FROM scored
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ra - rb AS DOUBLE) * (ra - rb)) AS d2
      FROM ranked
    )
    SELECT n,
           ROUND(1.0 - 6.0 * d2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
                 * n - 1)), 6) AS spearman_rho
    FROM s
    """,
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two document-quality signals
    (length vs lexical diversity — the same pair q_rank_fusion merges):
    rho = 1 - 6*sum(d^2)/(n(n^2-1)) over the tie-broken permutation
    ranks (doc_id tie-break, both engines — ties are resolved
    identically, so the statistic is exact, a documented spec choice
    over midrank averaging). The monotone-association readout that
    tells you whether two ranking signals are redundant BEFORE you pay
    for fusing them.

    Scale shape: both global rankings ride ONE
    ``range_row_number_multi`` call (a range exchange per ordering, all
    caches live in one top-level call), then a single 1-row fold of
    integer rank differences — d^2 sums are exact integers well under
    2^53 for any plausible corpus, so only the final division is
    float."""
    from data_integration_spark.operators.prefix import (
        range_row_number_multi,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
    )
    ranked = range_row_number_multi(
        scored,
        ["doc_id"],
        [
            ([F.col("n_chars").desc(), F.col("doc_id")], "ra"),
            ([F.col("n_distinct").desc(), F.col("doc_id")], "rb"),
        ],
    )
    d = (F.col("ra") - F.col("rb")).cast("double")
    return ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            1.0
            - 6.0
            * F.sum(d * d)
            / (
                F.count("*").cast("double")
                * (F.count("*").cast("double") * F.count("*") - 1)
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "q_semantic_threshold_sweep",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    norms AS (
      SELECT vec_id,
             SQRT(SUM(CAST(embedding[u.i] AS DOUBLE)
                      * CAST(embedding[u.i] AS DOUBLE))) AS nrm
      FROM e, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS u(i)
      GROUP BY vec_id
    ),
    pairs AS (
      SELECT q.vec_id AS qid, m.vec_id AS mid,
             SUM(CAST(q.embedding[u.i] AS DOUBLE)
                 * CAST(m.embedding[u.i] AS DOUBLE)) AS dot
      FROM e q JOIN e m ON q.vec_id < 100 AND q.vec_id < m.vec_id,
           UNNEST(GENERATE_SERIES(1, LEN(q.embedding))) AS u(i)
      GROUP BY q.vec_id, m.vec_id
    ),
    cos AS (
      SELECT ROUND(p.dot / (nq.nrm * nm.nrm), 6) AS c
      FROM pairs p
      JOIN norms nq ON nq.vec_id = p.qid
      JOIN norms nm ON nm.vec_id = p.mid
    ),
    th(t) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (0.2), (0.3),
              (0.4), (0.5), (0.6), (0.7)) v(x))
    SELECT th.t AS threshold,
           CAST(SUM(CASE WHEN cos.c >= th.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs,
           CAST((SELECT COUNT(DISTINCT qid) FROM pairs) AS BIGINT)
             AS n_block_docs
    FROM th, cos
    GROUP BY th.t
    """,
)
def q_semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold-picking table — the PR-curve idea
    (q_pr_curve) applied to embedding dedup: for a bounded probe block
    (vec_id < 100 against its successors), count candidate duplicate
    pairs at EVERY candidate cosine threshold in one pass. Before
    running corpus-wide semantic dedup you sweep this table to pick the
    threshold where the pair count elbows — too low floods the
    verifier, too high misses paraphrases; this is the measurement that
    decides q_semantic_dedup_clusters' operating point.

    Scale shape (r10 rework): the bounded probe block (100 vectors)
    rides a ``cosine_pairs_vectorized`` closure as a NumPy matrix and the
    corpus streams through ONE scan-partitioned GEMM mapInPandas — no
    shuffle, no pair-space materialization; only pairs at/above the
    LOWEST sweep threshold leave Python (pairs below 0.2 can never
    change any n_pairs count, so pre-filtering at 0.2 is exact). The
    pre-r10 form — a qid<mid theta join with three interpreted zip_with
    folds per pair — evaluated |probe|·|corpus| HOF dot products outside
    codegen and took >400 s at the 100× corpus; the GEMM form is the
    measured production shape of every other brute scorer here. Then a
    6-threshold x pair-count conditional aggregation (in-row fan-out
    over the threshold list, one tiny shuffle). ``n_block_docs`` (probe
    ids owning ≥1 successor pair, thresholded by NOTHING) is recovered
    from two scalar aggregates: qid has a pair iff qid < max(vec_id)."""
    from data_integration_spark.similarity.ann import (
        as_double_array,
        cosine_pairs_vectorized,
    )

    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    # bounded by construction (the probe block) — the same
    # collect-the-query-side pattern as the registered vectorized ANN ops.
    # on_zero_norm="drop" preserves the pre-vectorization semantics on
    # dirty data (zero-norm embedding → its pairs silently absent, exactly
    # what the oracle's NULL-cosine comparison does) instead of failing
    # the whole sweep (ADVICE r10).
    q_pd = emb.filter(F.col("vec_id") < 100).toPandas()
    cos = (
        cosine_pairs_vectorized(q_pd, emb, threshold=0.2, on_zero_norm="drop")
        .filter(F.col("qid") < F.col("mid"))
        .select(F.col("cosine").alias("c"))
    )
    vmax = emb.agg(F.max("vec_id")).first()[0]
    n_block = emb.filter(
        (F.col("vec_id") < 100) & (F.col("vec_id") < F.lit(vmax))
    ).count()
    thresholds = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7)
    # The oracle emits all 6 threshold rows whenever ANY qid<mid pair
    # exists (its cos CTE is unthresholded), even if no pair reaches the
    # 0.2 pre-filter floor — so the 6-row shape must not depend on the
    # (exactly count-preserving, but existence-lossy) ≥0.2 pre-filter.
    # LEFT-join the literal threshold list against the grouped counts and
    # zero-fill; emit nothing only when the probe block has no successor
    # pairs at all, which is precisely when the oracle emits nothing
    # (ADVICE r10).
    if n_block == 0:
        return local_table(
            spark,
            [], "threshold double, n_pairs long, n_block_docs long"
        )
    th_df = local_table(
        spark,
        [(float(t),) for t in thresholds], "threshold double"
    )
    th = F.explode(F.array(*[F.lit(t) for t in thresholds]))
    counts = (
        cos.select("c", th.alias("threshold"))
        .groupBy("threshold")
        .agg(
            F.sum((F.col("c") >= F.col("threshold")).cast("int"))
            .cast("long")
            .alias("n_pairs_raw"),
        )
    )
    return th_df.join(F.broadcast(counts), "threshold", "left").select(
        "threshold",
        F.coalesce(F.col("n_pairs_raw"), F.lit(0)).cast("long").alias("n_pairs"),
        F.lit(n_block).cast("long").alias("n_block_docs"),
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (staged for the r13 window)
# ---------------------------------------------------------------------------
# Two deterministic "systems" to integrate: side A = the customer table
# verbatim; side B = a CRM export with planted, key-derived corruptions
# (every law below is a pure function of the data, SQL-restatable):
#   b_name = REVERSE(name)      when custkey % 5 = 0   (20% corrupted)
#   b_seg  = 'UNKNOWN'          when custkey % 3 = 0   (33% lost)
#   b_bal  = acctbal + custkey % 7                     (drift 0..6)
# Candidate pairs are blocked on nationkey (the classic scale answer:
# pair space is Σ_block |A_b|·|B_b|, never |A|·|B|); the comparison
# vector γ = (name equal, segment equal, |bal diff| < 3.5) is native
# column arithmetic; ground truth = same custkey (planted).
# Adaptive block refinement: nationkey alone gives |block| ∝ n, i.e. a
# QUADRATIC pair space (90G pairs at the sf10 rehearsal's 1.5M
# customers). The second block key — custkey % B with B = ⌈n/15000⌉ —
# caps expected block size at ~600 rows regardless of corpus size, so
# the pair budget stays ∝ n·600. True pairs share the custkey and are
# therefore NEVER split across buckets (zero recall cost — the standard
# hash-refinement blocking move). B = 1 at every driver SF (n ≤ 15000),
# so the driver-checked behavior is the plain nation blocking.
_FS_BLOCK_TARGET = 15000

# f-string: the oracle's bucket count MUST derive from the same constant
# the Spark path uses — two separate literals would silently diverge the
# candidate-pair sets the first time the target is retuned (review r12)
_FS_PAIRS_SQL = f"""
  nb AS (
    SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {float(_FS_BLOCK_TARGET)}) AS BIGINT)) AS b
    FROM customer
  ),
  pairs AS (
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           CAST(a.c_name = (CASE WHEN b.c_custkey % 5 = 0
                            THEN REVERSE(b.c_name) ELSE b.c_name END)
                AS INT) AS g_name,
           CAST(a.c_mktsegment = (CASE WHEN b.c_custkey % 3 = 0
                                  THEN 'UNKNOWN' ELSE b.c_mktsegment END)
                AS INT) AS g_seg,
           CAST(ABS(a.c_acctbal - (b.c_acctbal + b.c_custkey % 7)) < 3.5
                AS INT) AS g_bal,
           CAST(a.c_custkey = b.c_custkey AS INT) AS is_true
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey % (SELECT b FROM nb) = b.c_custkey % (SELECT b FROM nb)
  )
"""

_FS_PATTERNS_ORACLE = f"""
WITH {_FS_PAIRS_SQL}
SELECT g_name, g_seg, g_bal,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_true) AS BIGINT) AS n_true
FROM pairs GROUP BY g_name, g_seg, g_bal
"""

_FS_CERT_ORACLE = f"""
WITH {_FS_PAIRS_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(1 AS BIGINT) AS ll_monotone,
       CAST(1 AS BIGINT) AS m_gt_u_all_fields,
       CAST(1 AS BIGINT) AS recall_ge_090,
       CAST(1 AS BIGINT) AS fpr_le_001
FROM pairs
"""


def _fs_sides(spark: SparkSession, sf_dir: str):
    cust = Catalog(spark, sf_dir)["customer"]
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("a_name"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_acctbal").alias("a_bal"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_nationkey").alias("nk"),
        F.when(F.col("c_custkey") % 5 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        (F.col("c_acctbal") + F.col("c_custkey") % 7).alias("b_bal"),
    )
    return a, b


_FS_GAMMA = ["g_name", "g_seg", "g_bal"]


def _fs_nb(spark: SparkSession, sf_dir: str) -> int:
    """The adaptive bucket count — ONE place for the
    max(1, ceil(n/target)) arithmetic shared by the batch and streaming
    paths (one count() job per call; callers needing it twice pass it
    through)."""
    import math as _math

    n = Catalog(spark, sf_dir)["customer"].count()
    return max(1, _math.ceil(n / _FS_BLOCK_TARGET))


def _fs_gamma_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join two bucketed sides and attach the comparison vector — the
    SINGLE definition of the γ semantics on the DataFrame path (the fit
    and the streamed apply must agree field-for-field; the SQL twin is
    _FS_PAIRS_SQL). Expects both sides to already carry (nk, bk)."""
    return a.join(b, ["nk", "bk"]).select(
        "a_key",
        "b_key",
        (F.col("a_name") == F.col("b_name")).cast("int").alias("g_name"),
        (F.col("a_seg") == F.col("b_seg")).cast("int").alias("g_seg"),
        (F.abs(F.col("a_bal") - F.col("b_bal")) < 3.5)
        .cast("int")
        .alias("g_bal"),
        (F.col("a_key") == F.col("b_key")).cast("int").alias("is_true"),
    )


def _fs_pairs(
    spark: SparkSession, sf_dir: str, nb: int | None = None
) -> DataFrame:
    """Blocked candidate pairs with the comparison vector — all native
    column arithmetic on one hash join keyed by (nationkey, adaptive
    hash bucket); see the _FS_PAIRS_SQL note for the scale argument."""
    a, b = _fs_sides(spark, sf_dir)
    if nb is None:
        nb = _fs_nb(spark, sf_dir)
    a = a.withColumn("bk", F.col("a_key") % nb)
    b = b.withColumn("bk", F.col("b_key") % nb)
    return _fs_gamma_pairs(a, b)


@register("q_linkage_patterns", oracle=_FS_PATTERNS_ORACLE)
def q_linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fellegi-Sunter SUFFICIENT STATISTIC as a first-class query:
    the comparison-pattern contingency table over the blocked candidate
    pairs (≤ 2^3 rows), with the planted-truth count per pattern. FULL
    oracle — the perturbation, blocking, and agreement predicates are
    deterministic SQL, so DuckDB rebuilds the exact table. This is the
    ONLY data-sized input the EM ever consumes (stats/fs_linkage.py),
    which is the 100-TB design: pairs shuffle once into a ≤ 8-key
    map-side-combined groupBy; the model fits on bytes."""
    return (
        _fs_pairs(spark, sf_dir)
        .groupBy(*_FS_GAMMA)
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("is_true").cast("long").alias("n_true"),
        )
    )


@register("q_linkage_fs_score", oracle=None)
def q_linkage_fs_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter scoring end-to-end (rows-only: the weights depend
    on the EM estimates, which no SQL engine restates; the certificate
    sibling carries the laws): fit (π, m, u) by EM on the bounded
    pattern table, then attach the log-likelihood-ratio weight as a
    NATIVE column expression (whole-stage codegen — no UDF, no Python
    in the pair-scan) and keep the declared matches (weight > 0).
    Output: (a_key, b_key, γ, weight, is_true)."""
    from data_integration_spark.stats.fs_linkage import (
        fs_em,
        pattern_table,
        score_pairs,
    )

    pairs = _fs_pairs(spark, sf_dir)
    _pi, m, u, _lls = fs_em(pattern_table(pairs, _FS_GAMMA))
    return (
        score_pairs(pairs, _FS_GAMMA, m, u)
        .filter(F.col("weight") > 0)
        .select(
            "a_key",
            "b_key",
            *_FS_GAMMA,
            F.round("weight", 6).alias("weight"),
            "is_true",
        )
    )


@register("q_linkage_certificate", oracle=_FS_CERT_ORACLE)
def q_linkage_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE certificate for the F-S fit (the q_unigram_invariants
    pattern): conservation columns DuckDB recomputes (pair and
    planted-truth counts) + laws the fitted model must satisfy:

    - ``ll_monotone``: the EM observed-data log-likelihood trace is
      non-decreasing (the EM theorem) up to the probability clamp:
      ``fs_em`` clips m/u into [1e-6, 1-1e-6] (u_name DOES clamp on
      this corpus — names are unique, so non-match name agreement ≈ 0),
      and a clamped M-step can dip the exact LL by O(eps) per field, so
      the tolerance is the clamp-aware 1e-6 the property test
      (tests/test_sketch_property.py) uses, not machine epsilon;
    - ``m_gt_u_all_fields``: every field agrees more among matches than
      non-matches (the construction plants exactly this);
    - ``recall_ge_090``: ≥ 90% of planted true pairs score weight > 0.
      The unrecoverable residue is EXACTLY the keys with corrupted name
      AND balance drifted past the band (custkey % 5 = 0 ∧ custkey % 7
      ∈ {4,5,6} — patterns (0,0,0) and (0,1,0), both negative-weight
      since segment agreement alone cannot outweigh two disagreements):
      3/35 ≈ 8.6% of keys by CRT counting, so recall ≈ 0.914 at every
      SF — pinned EXACTLY (not as a bound) in
      tests/test_fs_linkage.py;
    - ``fpr_le_001``: ≤ 1% of non-matching candidate pairs cross the
      threshold (the balance band admits ~0.07% of random pairs)."""
    from data_integration_spark.stats.fs_linkage import fs_em, fs_weights

    # r15 optimization (guide §1.2: don't recompute what a sufficient
    # statistic already holds): the certificate needs ONE pass over the
    # pair space, not two. The γ-pattern contingency table extended with
    # the planted-truth count (≤ 2^F rows — exactly q_linkage_patterns'
    # output) determines EVERY aggregate below: the F-S weight is a pure
    # function of the pattern (score_pairs attaches
    # lit(0.0) + Σ_f when(γ_f=1, agree_f).otherwise(disagree_f), the
    # same per-pattern double for every pair of that pattern), so
    # tp/fp/n_pairs/n_true are exact integer rollups of the table. The
    # driver-side weight sum below replays score_pairs' float evaluation
    # order term-for-term (0.0 + w_0 + w_1 + w_2, left-associated), so
    # the weight > 0 test is bit-identical to the retired per-pair scan.
    pairs = _fs_pairs(spark, sf_dir)
    rows = (
        pairs.groupBy(*_FS_GAMMA)
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("is_true").cast("long").alias("t"),
        )
        .collect()
    )  # ≤ 2^F rows — the only driver traffic
    table = [
        (tuple(int(r[g]) for g in _FS_GAMMA), int(r["c"]), int(r["t"]))
        for r in rows
    ]
    _pi, m, u, lls = fs_em([(g, c) for g, c, _t in table])
    agree, disagree = fs_weights(m, u)

    def pattern_weight(g: tuple[int, ...]) -> float:
        w = 0.0
        for f in range(len(g)):
            w = w + (agree[f] if g[f] == 1 else disagree[f])
        return w

    n_pairs = sum(c for _g, c, _t in table)
    n_true = sum(t for _g, _c, t in table)
    tp = sum(t for g, _c, t in table if pattern_weight(g) > 0)
    fp = sum(c - t for g, c, t in table if pattern_weight(g) > 0)
    agg = {"tp": tp, "fp": fp}
    n_false = n_pairs - n_true
    row = {
        "n_pairs": n_pairs,
        "n_true": n_true,
        "ll_monotone": int(  # clamp-aware tolerance — see docstring
            all(b >= a - 1e-6 for a, b in zip(lls, lls[1:]))
        ),
        "m_gt_u_all_fields": int(all(mf > uf for mf, uf in zip(m, u))),
        "recall_ge_090": int(int(agg["tp"]) >= 0.90 * n_true),
        "fpr_le_001": int(int(agg["fp"]) <= 0.01 * n_false),
    }
    return local_table(
        spark,
        [row],
        "n_pairs long, n_true long, ll_monotone long,"
        " m_gt_u_all_fields long, recall_ge_090 long, fpr_le_001 long",
    )
