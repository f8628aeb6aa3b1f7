"""Data-governance operators: k-anonymity auditing, right-to-erasure
(GDPR-style) verification, and vocabulary typo clustering.

The reference pipeline ships personal-adjacent reporting data into a
warehouse daily; these are the governance checks that workflow needs at
scale (none exist in the reference — its only guard is an empty-result
check, main.py:60-66). All three are pure DataFrame algebra with exact
integer outputs, so each carries a full value-hash oracle.

Scale notes:
- k-anonymity is one partial-aggregated groupBy over the quasi-identifier
  tuple (shuffles |distinct tuples|, not rows);
- erasure audit is two anti/semi joins shipping only the key column;
- typo pairs use DELETION-NEIGHBORHOOD blocking: a token of length L
  emits L+1 variant keys, candidate pairs share a key (O(Σ L) expansion,
  never |V|² — the standard spell-cluster trick), then exact levenshtein
  (integer, engine-identical builtin in both Spark and DuckDB) verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.text import tokens
from admob_data_pipeline_spark.sources.tables import load_table

K_THRESHOLD = 5
ERASE_MOD = 97  # synthetic "forgotten users" selector: user_id % 97 == 0


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = K_THRESHOLD
) -> DataFrame:
    """Per quasi-identifier combination: group size and whether it meets
    the k-anonymity bar. Groups smaller than k are re-identification
    risks a release process must suppress or generalize."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("meets_k", F.col("group_size") >= k)
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer release audit on the (nation, market-segment) quasi-pair."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    return k_anonymity(c, ["c_nationkey", "c_mktsegment"]).orderBy(
        "c_nationkey", "c_mktsegment"
    )


_ORACLE_K_ANON = f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS group_size,
       COUNT(*) >= {K_THRESHOLD} AS meets_k
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


def erasure_audit(
    events: DataFrame, forgotten: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Right-to-erasure verification: how many rows the erasure batch
    removes, how many remain, and an order-independent BIT_XOR checksum of md5
    key fragments over the SURVIVING rows, so a re-run after deletion can
    prove absence without scanning payloads. One row out.

    Scale: the forgotten-key set is the semi/anti-join build side (keys
    only, materialized once for both legs) under a single row-count
    broadcast guard —
    deletion batches are usually small but UNBOUNDED (a backfill erasing
    millions of users must not force-broadcast; broadcast policy tier 2,
    ARCHITECTURE.md). BIT_XOR is associative/commutative with NO
    overflow at any row count (a SUM of 52-bit fragments would wrap
    int64 past ~2k rows per bit of headroom) — partial-aggregated
    map-side."""
    fkeys = forgotten.select(key).distinct().localCheckpoint()
    # One count decides BOTH legs (the semi and anti join can never
    # legitimately want different strategies for the same build side) —
    # join_small twice would launch the count job twice.
    from admob_data_pipeline_spark.operators.util import broadcast_if_small

    build = broadcast_if_small(fkeys, fkeys.count())
    erased = events.join(build, key, "left_semi")
    kept = events.join(build, key, "left_anti").withColumn(
        "frag",
        F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 13), 16, 10
        ).cast("long"),
    )
    n_erased = erased.agg(F.count(F.lit(1)).alias("v"))
    kept_stats = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("bit_xor(frag)").alias("kept_key_checksum"),
    )
    return n_erased.crossJoin(kept_stats).select(
        F.col("v").alias("n_erased"), "n_kept", "kept_key_checksum"
    )


def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    forgotten = (
        ev.select("user_id").distinct().where(F.col("user_id") % ERASE_MOD == 0)
    )
    return erasure_audit(ev, forgotten)


_ORACLE_ERASURE = f"""
WITH f AS (
    SELECT DISTINCT user_id FROM events WHERE user_id % {ERASE_MOD} = 0
),
kept AS (
    SELECT user_id FROM events WHERE user_id NOT IN (SELECT user_id FROM f)
)
SELECT (SELECT COUNT(*) FROM events WHERE user_id IN (SELECT user_id FROM f))
           AS n_erased,
       (SELECT COUNT(*) FROM kept) AS n_kept,
       (SELECT CAST(BIT_XOR(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                       1, 13) AS BIGINT)) AS BIGINT)
        FROM kept) AS kept_key_checksum
"""


TYPO_MAX_DIST = 2


def typo_pairs(
    docs: DataFrame, max_dist: int = TYPO_MAX_DIST, text_col: str = "text"
) -> DataFrame:
    """Vocabulary token pairs within edit distance ``max_dist`` — the
    typo/variant clusters a corpus-normalization pass merges before
    counting vocabulary.

    Candidates come from radius-2 DELETION-NEIGHBORHOOD blocking: each
    token emits every string reachable by deleting ≤ 2 characters
    (O(L²) variants per token); two tokens within edit distance 2 always
    share such a variant (delete the edited positions from each side), so
    recall is 1 without an all-pairs join. The exact integer
    ``levenshtein`` builtin (identical in Spark and DuckDB) then
    verifies, keeping precision 1."""
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint()
    )
    # del(s, i) inlined; v2 re-deletes every v1 string. A zero-length v1
    # string would hit the sequence(1, 0) descending trap, but it can only
    # produce '' entries that array_distinct collapses into the '' already
    # contributed by v1, so both engines end with identical variant sets.
    variants = vocab.select(
        "tok",
        F.explode(
            F.expr(
                """
                array_distinct(concat(
                    array(tok),
                    transform(sequence(1, length(tok)),
                        i -> concat(substring(tok, 1, i - 1),
                                    substring(tok, i + 1, length(tok)))),
                    flatten(transform(
                        transform(sequence(1, length(tok)),
                            i -> concat(substring(tok, 1, i - 1),
                                        substring(tok, i + 1, length(tok)))),
                        s -> transform(sequence(1, length(s)),
                            j -> concat(substring(s, 1, j - 1),
                                        substring(s, j + 1, length(s))))))
                ))
                """
            )
        ).alias("variant"),
    )
    a = variants.select(F.col("tok").alias("a"), "variant")
    b = variants.select(F.col("tok").alias("b"), "variant")
    cand = (
        a.join(b, "variant")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    verified = cand.select(
        "a", "b", F.levenshtein(F.col("a"), F.col("b")).alias("dist")
    ).where(F.col("dist") <= max_dist)
    da = vocab.select(F.col("tok").alias("a"), F.col("df").alias("df_a"))
    db = vocab.select(F.col("tok").alias("b"), F.col("df").alias("df_b"))
    return (
        verified.join(da, "a")
        .join(db, "b")
        .select("a", "b", "dist", "df_a", "df_b")
        .orderBy("a", "b")
    )


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return typo_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_TYPO = f"""
WITH vocab AS (
    SELECT tok, COUNT(*) AS df FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ) GROUP BY tok
),
v1 AS (
    SELECT tok,
           [substr(tok, 1, i - 1) || substr(tok, i + 1)
            FOR i IN generate_series(1, len(tok))] AS dels
    FROM vocab
),
variants AS (
    SELECT tok,
           unnest(list_distinct(list_concat(
               list_concat([tok], dels),
               flatten([[substr(s, 1, j - 1) || substr(s, j + 1)
                         FOR j IN generate_series(1, len(s))]
                        FOR s IN dels])
           ))) AS variant
    FROM v1
),
cand AS (
    SELECT DISTINCT va.tok AS a, vb.tok AS b
    FROM variants va JOIN variants vb USING (variant)
    WHERE va.tok < vb.tok
),
verified AS (
    SELECT a, b, levenshtein(a, b) AS dist FROM cand
    WHERE levenshtein(a, b) <= {TYPO_MAX_DIST}
)
SELECT v.a, v.b, CAST(v.dist AS INT) AS dist, da.df AS df_a, db.df AS df_b
FROM verified v
JOIN vocab da ON da.tok = v.a
JOIN vocab db ON db.tok = v.b
ORDER BY v.a, v.b
"""


# --- l-diversity / t-closeness ----------------------------------------------
L_THRESHOLD = 3
T_SCALE = 1_000_000


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's required companion: a group can
    be large (k-safe) yet expose everyone's sensitive value if the group
    is homogeneous. Per quasi-identifier group (nation), the count of
    DISTINCT sensitive values (market segment) and the l-bar verdict.

    Scale: one partial-aggregated groupBy over the quasi key.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
        )
        .withColumn("meets_l", F.col("n_sensitive") >= L_THRESHOLD)
        .orderBy("c_nationkey")
    )


_ORACLE_L_DIVERSITY = f"""
SELECT c_nationkey, COUNT(*) AS group_size,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
       COUNT(DISTINCT c_mktsegment) >= {L_THRESHOLD} AS meets_l
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the distribution-level privacy bar: even a
    diverse group leaks if its sensitive-value distribution diverges from
    the global one. Per quasi group (nation), the total-variation
    distance ½·Σ_s |p_g(s) − p(s)| between the group's segment
    distribution and the corpus distribution, fully division-free:
    TV·(2·n_g·n) = Σ_s |c_gs·n − c_s·n_g| in exact BIGINT (segments
    ABSENT from a group contribute c_s·n_g — accounted via the
    complement of the group's covered global mass, no group×segment
    cross join needed), with the ppm quotient two-staged at the end.

    Scale: one (quasi, sensitive) cell aggregation; margins broadcast
    back; n·c products stay in BIGINT to ~3e9 rows (lift to DECIMAL(38)
    past that).
    """
    c = load_table(spark, sf_dir, "customer")
    cells = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("c_gs"))
        .localCheckpoint()
    )
    groups = cells.groupBy("c_nationkey").agg(F.sum("c_gs").alias("n_g"))
    sens = cells.groupBy("c_mktsegment").agg(F.sum("c_gs").alias("c_s"))
    tot = cells.agg(F.sum("c_gs").alias("n"))
    j = (
        cells.join(F.broadcast(sens), "c_mktsegment")
        .join(F.broadcast(groups), "c_nationkey")
        .crossJoin(F.broadcast(tot))
    )
    present = j.groupBy("c_nationkey").agg(
        F.sum(F.abs(F.col("c_gs") * F.col("n") - F.col("c_s") * F.col("n_g"))).alias(
            "present_part"
        ),
        F.sum(F.col("c_s")).alias("covered_mass"),
        F.max("n_g").alias("n_g"),
        F.max("n").alias("n"),
    )
    tv2 = F.col("present_part") + (F.col("n") - F.col("covered_mass")) * F.col("n_g")
    den = F.lit(2) * F.col("n_g") * F.col("n")
    return (
        present.select(
            "c_nationkey",
            F.col("n_g").cast("long").alias("group_size"),
            tv2.cast("long").alias("tv2_scaled"),
            den.cast("long").alias("den"),
        )
        .select(
            "c_nationkey",
            "group_size",
            "tv2_scaled",
            (
                F.expr("tv2_scaled * 1000 DIV den") * 1000
                + F.expr("(tv2_scaled * 1000 % den) * 1000 DIV den")
            )
            .cast("long")
            .alias("tv_ppm"),
        )
        .orderBy("c_nationkey")
    )


_ORACLE_T_CLOSENESS = """
WITH cells AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS c_gs
    FROM customer GROUP BY c_nationkey, c_mktsegment
),
groups AS (SELECT c_nationkey, CAST(SUM(c_gs) AS BIGINT) AS n_g FROM cells GROUP BY c_nationkey),
sens AS (SELECT c_mktsegment, CAST(SUM(c_gs) AS BIGINT) AS c_s FROM cells GROUP BY c_mktsegment),
tot AS (SELECT CAST(SUM(c_gs) AS BIGINT) AS n FROM cells),
present AS (
    SELECT c.c_nationkey,
           CAST(SUM(ABS(c.c_gs * n - s.c_s * g.n_g)) AS BIGINT) AS present_part,
           CAST(SUM(s.c_s) AS BIGINT) AS covered_mass,
           MAX(g.n_g) AS n_g, MAX(n) AS n
    FROM cells c
    JOIN sens s USING (c_mktsegment)
    JOIN groups g USING (c_nationkey), tot
    GROUP BY c.c_nationkey
),
scored AS (
    SELECT c_nationkey, n_g AS group_size,
           CAST(present_part + (n - covered_mass) * n_g AS BIGINT) AS tv2_scaled,
           CAST(2 * n_g * n AS BIGINT) AS den
    FROM present
)
SELECT c_nationkey, group_size, tv2_scaled,
       CAST((tv2_scaled * 1000 // den) * 1000
            + (tv2_scaled * 1000 % den) * 1000 // den AS BIGINT) AS tv_ppm
FROM scored
ORDER BY c_nationkey
"""


# --- declarative data-quality constraint suite ------------------------------


def dq_constraints(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Deequ-style verification suite: a declarative set of constraints
    (completeness, uniqueness, accepted values, ranges, referential
    integrity, minimum size) evaluated in bulk, emitting one
    (constraint, violations, passed) row each — the quality gate a
    warehouse load runs before publishing a partition.

    ``o_orderstatus_no_partial`` is expected to FAIL on this dataset
    ('P' rows exist): the suite must prove it can report violations, not
    just echo green.

    Scale: all single-table constraints collapse into ONE aggregation per
    table (a single corpus pass each, map-side partial agg); referential
    integrity is a key-only anti-join. The per-constraint rows come from
    stack() over the three 1-row aggregate frames — no extra scans.
    """
    o = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nulls"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dups"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("badstatus"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("partial"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("negprice"),
    )
    li = lineitem.agg(
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
            .otherwise(0)
        ).alias("baddisc"),
    )
    orphans = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    return (
        o.crossJoin(li)
        .crossJoin(orphans)
        .select(
            F.expr(
                "stack(7,"
                " 'l_discount_range', baddisc,"
                " 'l_orderkey_ref_integrity', n_orphans,"
                " 'o_custkey_complete', nulls,"
                " 'o_orderkey_unique', dups,"
                " 'o_orderstatus_accepted', badstatus,"
                " 'o_orderstatus_no_partial', partial,"
                " 'o_totalprice_nonneg', negprice"
                ") AS (constraint, violations)"
            )
        )
        .select(
            "constraint",
            F.col("violations").cast("long").alias("violations"),
            (F.col("violations") == 0).alias("passed"),
        )
        .orderBy("constraint")
    )


def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq_constraints(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


_ORACLE_DQ = """
WITH o AS (
    SELECT COUNT(*) AS n_orders,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nulls,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS dups,
           SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS badstatus,
           SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS partial,
           SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS negprice
    FROM orders
),
li AS (
    SELECT SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS baddisc
    FROM lineitem
),
orph AS (
    SELECT COUNT(*) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
),
m AS (
    SELECT 'l_discount_range' AS "constraint", CAST(baddisc AS BIGINT) AS violations FROM li
    UNION ALL SELECT 'l_orderkey_ref_integrity', CAST(n_orphans AS BIGINT) FROM orph
    UNION ALL SELECT 'o_custkey_complete', CAST(nulls AS BIGINT) FROM o
    UNION ALL SELECT 'o_orderkey_unique', CAST(dups AS BIGINT) FROM o
    UNION ALL SELECT 'o_orderstatus_accepted', CAST(badstatus AS BIGINT) FROM o
    UNION ALL SELECT 'o_orderstatus_no_partial', CAST(partial AS BIGINT) FROM o
    UNION ALL SELECT 'o_totalprice_nonneg', CAST(negprice AS BIGINT) FROM o
)
SELECT "constraint", violations, violations = 0 AS passed
FROM m ORDER BY "constraint"
"""


QUERIES = {
    "k_anonymity_audit": q_k_anonymity,
    "erasure_audit": q_erasure_audit,
    "typo_pairs": q_typo_pairs,
    "dq_constraints": q_dq_constraints,
    "l_diversity_audit": q_l_diversity,
    "t_closeness_audit": q_t_closeness,
}

ORACLES = {
    "k_anonymity_audit": _ORACLE_K_ANON,
    "erasure_audit": _ORACLE_ERASURE,
    "typo_pairs": _ORACLE_TYPO,
    "dq_constraints": _ORACLE_DQ,
    "l_diversity_audit": _ORACLE_L_DIVERSITY,
    "t_closeness_audit": _ORACLE_T_CLOSENESS,
}
