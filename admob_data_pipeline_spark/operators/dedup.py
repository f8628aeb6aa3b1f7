"""Deduplication operators over ``documents`` (BASELINE.json north-star:
exact, MinHash+LSH, SimHash, n-gram Jaccard).

Spark-first scale design — the whole point of these operators is avoiding
the O(n²) pair space at 100 TB:

- **exact**: hash-groupBy on md5(text) — one shuffle of (hash, id), no
  text movement; canonical = min(doc_id) per group.
- **n-gram Jaccard**: pairs generated only through a shared-shingle
  equi-join (docs with no common shingle never meet). Hot shingles are
  capped (shingles occurring in > max_df docs are dropped — the standard
  stop-shingle trick) so one viral shingle can't produce a quadratic
  blow-up; the cap is part of the operator contract and mirrored in the
  oracle.
- **MinHash+LSH**: banded signatures → candidates only for docs sharing a
  band bucket (shuffle O(n·bands), never O(n²)); candidates are then
  verified with exact Jaccard, so precision is 1.0 and recall is the LSH
  probability 1-(1-s^r)^b.
- **SimHash**: 60-bit signatures; candidate pairs via 15-bit band join
  (docs agreeing on ≥1 of 4 bands — pigeonhole-exact recall at the
  hamming ≤ 3 verification threshold), verified map-side by Hamming
  distance BEFORE the dedup shuffle. Band width is the candidate-volume
  knob (see the constants block).

Every hash is md5 (bit-identical in Spark and DuckDB) so each operator
keeps a full value-checked oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window

from admob_data_pipeline_spark.operators.util import join_small, widen_if_narrow
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.text import shingles, tokens
from admob_data_pipeline_spark.sources.tables import load_table

# LSH parameters: 8 hashes, 4 bands × 2 rows (candidate prob ≈ 0.68 at
# Jaccard 0.5, ≈ 0.97 at 0.8).
N_HASHES = 8
BAND_ROWS = 2
N_BANDS = N_HASHES // BAND_ROWS
JACCARD_THRESHOLD = 0.5
MAX_DF = 400  # stop-shingle cap (docs per shingle) at test scale
# 60-bit SimHash in 4 bands of 15 bits. Band count is pinned to
# HAMMING_MAX + 1 (pigeonhole: ≤3 differing bits cannot touch all 4
# bands → banding recall is exactly 1 at the verification threshold);
# widening the BAND, not adding bands, is what controls candidate
# volume — 15-bit bands give 32768 buckets per band (vs 256 at 8-bit,
# 16 at the original 4-bit nibbles: each widening round was measured,
# see ARCHITECTURE.md). At N docs the expected band-join volume is
# ~4·N²/2^band_bits, so 15-bit bands are a further 128× collision cut
# over 8-bit at identical recall, and hamming ≤ 3 of 60 bits is a
# tighter (more production-faithful) near-dup notion than 3 of 32.
# 60 is the widest hex-digit-aligned width whose top bit weight
# 2^(bits−1) = 2^59 keeps the assembled signature a NON-NEGATIVE
# BIGINT on both engines — 64 would put bit 0 at 2^63 (overflow), and
# signed signatures would break the sign-free shift/mod band math.
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = SIMHASH_BITS // 4
HAMMING_MAX = 3


def doc_shingles(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct pairs. Widened first: the tokenize/
    shingle/explode kernel is CPU-bound and must not inherit a small
    file's single-split parallelism (no-op on real multi-split scans)."""
    docs = widen_if_narrow(docs)
    return (
        docs.select(
            "doc_id", F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), k))).alias("shingle")
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct content,
    canonical doc = min(doc_id), n_dups = group size."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------- set-overlap core
# Every set-overlap operator below is the same three steps over a
# (key, element) table: cap the hot elements, aggregate each pair's
# shared elements, keep the pairs at or above an exact-integer threshold.


def cap_hot(rows: DataFrame, elem: str, max_df: int) -> tuple[DataFrame, DataFrame]:
    """Stop-element cap: ``rows`` (one row per key and ``elem``) minus
    every element held by more than ``max_df`` keys, and that hot set,
    pinned with an eager ``localCheckpoint``.

    Anti-join under the join_small guard (broadcast policy tier 2, NOT
    tier 3): "elements in > max_df docs" is corpus-dependent — small
    under a Zipf head at test scale, potentially millions of entries at
    100 TB if max_df is not raised with the corpus — so a forced
    broadcast can OOM. But a bare AQE-sized join is wrong too: the probe
    side is the corpus-scale exploded stream, and AQE's fallback
    materializes its shuffle map side before converting (measured
    2.0 s → 8.9 s at sf0.1). Materializing the tiny hot list and
    counting it keeps the no-shuffle broadcast plan whenever the list is
    provably small."""
    hot = (
        rows.groupBy(elem)
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select(elem)
        .localCheckpoint()
    )
    return join_small(rows, hot, elem, "left_anti"), hot


def pair_overlap(
    rows: DataFrame,
    elem: str,
    keys: tuple[str, str] = ("a", "b"),
    agg: Column | None = None,
    *,
    key: str = "doc_id",
    carry: tuple[str, ...] = (),
    cands: DataFrame | None = None,
    b_rows: DataFrame | None = None,
) -> DataFrame:
    """(ka, kb, agg) per pair of ``key`` values sharing an ``elem``;
    ``agg`` defaults to the shared-element count ``n_inter``, and the
    ``carry`` columns ride along suffixed ``a`` / ``b`` for it to read.

    Self-join mode (no ``cands``): every pair ka < kb, generated through
    an equi-join on the element, never a cross join. Candidate-verify
    mode: only the ``cands`` (ka, kb) pairs, the ka side read from
    ``rows`` and the kb side from ``b_rows`` (default ``rows``)."""
    ka, kb = keys

    def side(df: DataFrame, k: str, suffix: str) -> DataFrame:
        return df.select(
            F.col(key).alias(k), elem, *[F.col(c).alias(c + suffix) for c in carry]
        )

    a = side(rows, ka, "a")
    b = side(rows if b_rows is None else b_rows, kb, "b")
    if cands is None:
        pairs = a.join(b, elem).where(F.col(ka) < F.col(kb))
    else:
        pairs = cands.join(a, ka).join(b, [kb, elem])
    return pairs.groupBy(ka, kb).agg(
        F.count(F.lit(1)).alias("n_inter") if agg is None else agg
    )


def at_least(num: Column, threshold: float, denom: Column) -> Column:
    """num / denom ≥ threshold in the exact integer domain
    (num·1e6 ≥ t·1e6·denom)."""
    return num * F.lit(1_000_000) >= F.lit(int(round(threshold * 1_000_000))) * denom


def threshold_pairs(
    inter: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    threshold: float,
    out: str = "jaccard",
    show: tuple = (),
) -> DataFrame:
    """Pairs whose Jaccard n / (size_a + size_b − n) is at least
    ``threshold``, ordered by pair. ``inter`` is (ka, kb, n) as
    :func:`pair_overlap` returns it; ``sa`` / ``sb`` are (ka, size_a)
    and (kb, size_b). Output: ka, kb, the ``show`` columns, and ``out``.

    The threshold is on integers (:func:`at_least`): thresholding the
    ROUNDED quotient admits pairs with true Jaccard in [t - 5e-7, t),
    and a ROUND on a decimal-tie quotient can itself diverge between
    engines (playbook #2). The 6-place ``out`` value is display-only."""
    ka, kb, n = inter.columns
    union = F.col(sa.columns[1]) + F.col(sb.columns[1]) - F.col(n)
    return (
        inter.join(sa, ka)
        .join(sb, kb)
        .where(at_least(F.col(n), threshold, union))
        .select(ka, kb, *show, F.round(F.try_divide(F.col(n), union), 6).alias(out))
        .orderBy(ka, kb)
    )


def candidate_pairs(rows: DataFrame, on: list[str]) -> DataFrame:
    """Distinct (a, b), a < b, of the doc pairs that agree on every ``on``
    column (a band bucket, a prefix token): the candidate set the
    verify mode of :func:`pair_overlap` then checks exactly."""
    a = rows.select(F.col("doc_id").alias("a"), *on)
    b = rows.select(F.col("doc_id").alias("b"), *on)
    return a.join(b, on).where(F.col("a") < F.col("b")).select("a", "b").distinct()


def _capped_shingles(docs: DataFrame, k: int, max_df: int) -> DataFrame:
    # materialize the exploded shingles: they feed BOTH the hot-shingle
    # census and the anti-join input. cache() is NOT enough — its plan-
    # equality lookup misses here (the widen repartition defeats
    # sameResult), so the executed plan re-ran the tokenize/shingle/
    # explode pipeline per consumer (18 parquet scans measured for the
    # LSH query). An eager localCheckpoint pins the (doc_id, shingle) rows
    # once; every downstream leg reads the materialized partitions. Eager,
    # not lazy: lazily-checkpointed plans report SQL-metric accumulators
    # after their query execution is gone, flooding the driver log with
    # DAGScheduler accumulator errors.
    return cap_hot(doc_shingles(docs, k).localCheckpoint(), "shingle", max_df)[0]


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, generated through a
    shared-shingle join (never a cross join)."""
    # _capped_shingles already materializes the expensive explode; its
    # broadcast anti-join is map-side-cheap to recompute per consumer, so
    # a second checkpoint here would only add a materialization pass
    sh = _capped_shingles(docs, k, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    return threshold_pairs(pair_overlap(sh, "shingle"), sa, sb, threshold)


CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Directed containment pairs: C(src→dst) = |S(src) ∩ S(dst)| / |S(src)|
    ≥ threshold — the asymmetric cousin of Jaccard that catches a short
    document quoted/embedded inside a longer one (Jaccard misses these
    because the big doc's shingle count swamps the union). The standard
    sub-document/quote dedup signal in corpus curation.

    Scale: identical shape to ``ngram_jaccard_pairs`` — one shared-shingle
    equi-join with the stop-shingle cap, intersections grouped once on the
    UNDIRECTED (a<b) pair, then both directions emitted by a map-side
    union (no second shuffle). Threshold in exact integer domain
    (n_inter·1e6 ≥ t·1e6·n_src); the quotient is display-only."""
    sh = _capped_shingles(docs, k, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    both = pair_overlap(sh, "shingle").join(sa, "a").join(sb, "b")
    directed = both.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "n_inter",
        F.col("n_a").alias("n_src"),
    ).unionByName(
        both.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "n_inter",
            F.col("n_b").alias("n_src"),
        )
    )
    return (
        directed.where(at_least(F.col("n_inter"), threshold, F.col("n_src")))
        .select(
            "src",
            "dst",
            F.col("n_inter").alias("n_inter"),
            F.round(F.try_divide(F.col("n_inter"), F.col("n_src")), 6).alias(
                "containment"
            ),
        )
        .orderBy("src", "dst")
    )


MERSENNE_61 = (1 << 61) - 1


def minhash_signatures(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, m0..m{n-1}) — Kirsch-Mitzenmacher family
    h_i(s) = (h1(s) + i*h2(s)) mod (2^61-1), with h1/h2 = two 60-bit
    halves of ONE md5 per shingle. One hash invocation instead of n; pure
    64-bit arithmetic after that (no overflow: h < 2^60, i*h2 < 2^63).

    All n mins are computed in ONE groupBy as n aggregate columns — a
    single shuffle of pre-aggregated (doc, m0..m7) rows thanks to map-side
    partial min, instead of exploding n seed copies of every shingle."""
    h = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MERSENNE_61)).alias(
            f"m{i}"
        )
        for i in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(
    sig: DataFrame,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    band_in_key: bool = False,
) -> DataFrame:
    """(doc_id, band, band_key): band_key = md5 of the band's minhashes in
    seed order; bands exploded from the wide signature row (no shuffle).

    ``band_in_key=True`` prefixes the band index into the hashed key so
    the key ALONE scopes the collision (two bands holding identical
    minhash pairs no longer share a key) — the persisted dedup index
    (operators/dedup_index.py) uses this so its probe is a single-column
    equi-join against the band_key-bucketed table."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *([F.lit(b)] if band_in_key else []),
                        *[F.col(f"m{i}") for i in range(b * band_rows, (b + 1) * band_rows)],
                    )
                ).alias("band_key"),
            )
            for b in range(n_hashes // band_rows)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, LSH-candidate-generated and
    exact-Jaccard-verified (precision 1, recall = banding probability)."""
    # _capped_shingles already materializes the expensive explode; the
    # anti-join on top is map-side-cheap to recompute per consumer
    sh = _capped_shingles(docs, k, max_df)
    candidates = candidate_pairs(
        lsh_band_keys(minhash_signatures(sh)), ["band", "band_key"]
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    inter = pair_overlap(sh, "shingle", cands=candidates)
    return threshold_pairs(inter, sa, sb, threshold)


def incremental_lsh_pairs(
    docs: DataFrame,
    batch_mod: int = 5,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Incremental ingest dedup: near-dup pairs between a NEW BATCH
    (doc_id % batch_mod == 0 stands in for "this ingest") and the EXISTING
    INDEX (all other docs) — the check a training pipeline runs on every
    ingest instead of re-deduping the whole corpus. Asymmetric by
    construction: a batch doc is reported against each index doc it
    duplicates; batch-internal and index-internal pairs are NOT emitted
    (the index was already deduped, the batch self-dedup is the ordinary
    ``minhash_lsh_pairs`` over the batch alone).

    Scale: the index side's band keys are computed once and persist as the
    stored index (here derived in-plan from the same table); an ingest
    computes signatures only for the batch and probes with an equi-join on
    (band, band_key) — shuffle O(batch·bands + matching index buckets),
    never O(index). Verification joins shingles only for candidate pairs."""
    sh = _capped_shingles(docs, k, max_df)
    bands = lsh_band_keys(minhash_signatures(sh))
    is_batch = (F.col("doc_id") % batch_mod) == 0
    ba = bands.where(is_batch).select(
        F.col("doc_id").alias("batch_doc"), "band", "band_key"
    )
    bi = bands.where(~is_batch).select(
        F.col("doc_id").alias("index_doc"), "band", "band_key"
    )
    candidates = (
        ba.join(bi, ["band", "band_key"]).select("batch_doc", "index_doc").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("batch_doc"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("index_doc"), F.col("n_sh").alias("n_b"))
    inter = pair_overlap(
        sh, "shingle", ("batch_doc", "index_doc"), cands=candidates
    )
    return threshold_pairs(inter, sa, sb, threshold)


def dedup_recall_audit(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Recall of the MinHash-LSH dedup path against the exact shared-
    shingle baseline — the audit that quantifies what the banding
    probability 1-(1-s^r)^b actually costs on THIS corpus before anyone
    trusts the fast path to delete data. Precision is 1.0 by construction
    (LSH candidates are exact-verified) and is asserted, not assumed.

    Output is one summary row in exact integers (counts + recall ppm).

    Scale: runs the two registered plans being audited plus a pair-key
    semi-join; both pair sets are checkpointed once since each feeds two
    consumers (count + intersection)."""
    exact = (
        ngram_jaccard_pairs(docs, k, threshold, max_df)
        .select("a", "b")
        .localCheckpoint()
    )
    lsh = (
        minhash_lsh_pairs(docs, k, threshold, max_df)
        .select("a", "b")
        .localCheckpoint()
    )
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = lsh.join(exact, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return ne.crossJoin(nl).crossJoin(nh).select(
        "n_exact",
        "n_lsh",
        "n_hits",
        F.expr(
            "CAST(CASE WHEN n_exact = 0 THEN 0 "
            "ELSE n_hits * 1000000 DIV n_exact END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN n_lsh = 0 THEN 1000000 "
            "ELSE n_hits * 1000000 DIV n_lsh END AS BIGINT)"
        ).alias("precision_ppm"),
    )


def q_dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_recall_audit(load_table(spark, sf_dir, "documents"))


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SIMHASH_BITS-wide SimHash over distinct tokens: token hash = the
    first SIMHASH_BITS/4 hex digits of md5(token) parsed ONCE into a
    non-negative BIGINT (≤15 hex chars — playbook #4), each bit then a
    shift-AND on that long; bit_j majority-voted across tokens (+1/−1),
    ties → 1. The single conv() replaces SIMHASH_BITS per-token
    substring/instr string parses with integer shift-ANDs — strictly
    less per-token work. (The fresh-session cost of this operator is
    dominated by one-time codegen of the 60-wide aggregate, not by the
    per-token math — measured, see ARCHITECTURE.md.)"""
    tok = widen_if_narrow(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )
    hv = F.conv(
        F.substring(F.md5(F.col("tok")), 1, SIMHASH_BITS // 4), 16, 10
    ).cast("long")
    tok = tok.select("doc_id", hv.alias("hv"))
    bit_cols = []
    for j in range(SIMHASH_BITS):
        bit = F.shiftright(F.col("hv"), SIMHASH_BITS - 1 - j).bitwiseAND(F.lit(1))
        bit_cols.append((bit * 2 - 1).alias(f"v{j}"))
    votes = tok.select("doc_id", *bit_cols)
    agg = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        bit_val = F.when(F.col(f"s{j}") >= 0, F.lit(1)).otherwise(F.lit(0))
        term = bit_val * F.lit(2 ** (SIMHASH_BITS - 1 - j))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(docs: DataFrame, hamming_max: int = HAMMING_MAX) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of the 4
    SIMHASH_BAND_BITS-bit bands, verified by Hamming ≤ hamming_max —
    recall exactly 1 by pigeonhole (see the constants block).

    The pigeonhole guarantee needs more bands than differing bits, so
    with 4 fixed bands only hamming_max ≤ 3 is exact; larger values are
    rejected rather than silently degrading recall."""
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    if hamming_max > n_bands - 1:
        raise ValueError(
            f"hamming_max={hamming_max} breaks the pigeonhole recall "
            f"guarantee: {n_bands} bands are exact only for ≤ {n_bands - 1}"
        )
    # materialized (r12): the band self-join's two sides each re-plan
    # their branch, so without the checkpoint the tokenize + md5 + 60-
    # wide majority-vote aggregate (and its one-time codegen, the
    # dominant fresh-session cost, see simhash()) executed TWICE.
    # (doc_id, simhash) is two BIGINTs per doc.
    s = simhash(docs).localCheckpoint()
    band_vals = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), (3 - b) * SIMHASH_BAND_BITS)
                            % (1 << SIMHASH_BAND_BITS)
                        ).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bn"),
    ).select("doc_id", "simhash", F.col("bn.band").alias("band"), F.col("bn.band_val").alias("band_val"))
    a = band_vals.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a"), "band", "band_val"
    )
    b = band_vals.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b"), "band", "band_val"
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # Verify BEFORE deduplicating: the hamming check is a map-side
    # bit_count on rows the band join already co-located, so the
    # distinct() — the only extra shuffle here — moves just the verified
    # near-dup pairs, not every band collision. (hamming is functionally
    # determined by (a, b), so distinct on the triple ≡ distinct on the
    # pair.)
    return (
        a.join(b, ["band", "band_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= hamming_max)
        .distinct()
        .orderBy("a", "b")
    )


def duplicate_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph → duplicate
    clusters (cluster id = min doc_id in the component; singletons are
    their own cluster).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(component
    diameter) rounds. Each round's labels are ``localCheckpoint``ed:
    unlike ``cache()`` (which only short-circuits execution), checkpoint
    TRUNCATES the lineage, so the plan stays O(1) per round instead of
    growing by one join per iteration — without it, iteration N's plan
    embeds all N-1 prior rounds and a failure/recompute at scale replays
    the entire history (at 100 TB: ``checkpoint()`` to reliable storage,
    same loop). This is the engine's 'iterative algorithm' shape — still
    fully deterministic, so it keeps a (recursive-CTE) oracle.
    """
    pairs = ngram_jaccard_pairs(docs, k, threshold, max_df).select("a", "b")
    edges = (
        pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("a", "doc_id")
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    comp = labels.withColumnRenamed("label", "cluster_id")
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    ).orderBy("doc_id")


# ---------------------------------------------------------------- queries

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the corpus has no full-text dups — dedup on the first 2 tokens
    # ("document prefix") to exercise group sizes > 1 as well
    docs = load_table(spark, sf_dir, "documents")
    prefixed = docs.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 2), " ").alias("text"),
    )
    return (
        exact_duplicates(prefixed)
        .orderBy("content_hash")
    )


_ORACLE_EXACT = """
WITH p AS (
    SELECT doc_id,
           array_to_string(string_split(lower(text), ' ')[1:2], ' ') AS prefix
    FROM documents
)
SELECT md5(prefix) AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_docs
FROM p
GROUP BY md5(prefix)
ORDER BY content_hash
"""

_DUCK_SHINGLES = """
t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM {src}
),
sh0 AS (
    SELECT doc_id, unnest(list_distinct(
        [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)]
    )) AS shingle
    FROM t
),
hot AS (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {max_df}
),
sh AS (
    SELECT doc_id, shingle FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
)
"""


def _oracle_jaccard_tail(pair_source: str) -> str:
    return f"""
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM {pair_source}
    GROUP BY sa.doc_id, sb.doc_id
)
SELECT i.a, i.b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / NULLIF(za.n_sh + zb.n_sh - i.n_inter, 0), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.a
JOIN sizes zb ON zb.doc_id = i.b
WHERE i.n_inter * 1000000
      >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
         * (za.n_sh + zb.n_sh - i.n_inter)
ORDER BY i.a, i.b
"""


_ORACLE_NGRAM_JACCARD = (
    "WITH " + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents") + ","
    + _oracle_jaccard_tail(
        "sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id"
    )
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_CONTAINMENT = (
    "WITH " + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
pairsized AS (
    SELECT i.a, i.b, i.n_inter, za.n_sh AS n_a, zb.n_sh AS n_b
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
),
directed AS (
    SELECT a AS src, b AS dst, n_inter, n_a AS n_src FROM pairsized
    UNION ALL
    SELECT b AS src, a AS dst, n_inter, n_b AS n_src FROM pairsized
)
SELECT src, dst, n_inter,
       ROUND(CAST(n_inter AS DOUBLE) / NULLIF(n_src, 0), 6) AS containment
FROM directed
WHERE n_inter * 1000000 >= {int(round(CONTAINMENT_THRESHOLD * 1_000_000))} * n_src
ORDER BY src, dst
"""
)


# shared CTE prefix (shingles → signatures → band-bucket candidates):
# reused by the verified-pair oracle AND the recall-sweep oracle
_MINHASH_CAND_CTES = (
    _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT) AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           {", ".join(f"MIN((h1 + {i} * h2) % {MERSENNE_61}) AS m{i}" for i in range(N_HASHES))}
    FROM hashed
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, g.band,
           {"CASE " + " ".join(f"WHEN g.band = {b} THEN md5(CAST(m{b * BAND_ROWS} AS VARCHAR) || '|' || CAST(m{b * BAND_ROWS + 1} AS VARCHAR))" for b in range(N_BANDS)) + " END"} AS band_key
    FROM sig, generate_series(0, {N_BANDS - 1}) AS g(band)
),
cand AS (
    SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
    FROM bands ba JOIN bands bb
      ON ba.band = bb.band AND ba.band_key = bb.band_key
     AND ba.doc_id < bb.doc_id
),
"""
)

_ORACLE_MINHASH = (
    "WITH "
    + _MINHASH_CAND_CTES
    + _oracle_jaccard_tail(
        "cand c JOIN sh sa ON sa.doc_id = c.a "
        "JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle"
    )
)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def q_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_lsh_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_INCREMENTAL = (
    "WITH "
    + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT) AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           {", ".join(f"MIN((h1 + {i} * h2) % {MERSENNE_61}) AS m{i}" for i in range(N_HASHES))}
    FROM hashed
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, g.band,
           {"CASE " + " ".join(f"WHEN g.band = {b} THEN md5(CAST(m{b * BAND_ROWS} AS VARCHAR) || '|' || CAST(m{b * BAND_ROWS + 1} AS VARCHAR))" for b in range(N_BANDS)) + " END"} AS band_key
    FROM sig, generate_series(0, {N_BANDS - 1}) AS g(band)
),
cand AS (
    SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
    FROM bands ba JOIN bands bb
      ON ba.band = bb.band AND ba.band_key = bb.band_key
    WHERE ba.doc_id % 5 = 0 AND bb.doc_id % 5 <> 0
),
inter AS (
    SELECT c.a, c.b, COUNT(*) AS n_inter
    FROM cand c JOIN sh sa ON sa.doc_id = c.a
    JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
    GROUP BY c.a, c.b
)
SELECT i.a AS batch_doc, i.b AS index_doc,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / NULLIF(za.n_sh + zb.n_sh - i.n_inter, 0), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.a
JOIN sizes zb ON zb.doc_id = i.b
WHERE i.n_inter * 1000000
      >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
         * (za.n_sh + zb.n_sh - i.n_inter)
ORDER BY batch_doc, index_doc
"""
)


# One BIGINT parse of the 15-hex md5 prefix per token (playbook #4),
# then shift-AND per bit — mirrors the Spark side's conv() exactly.
_SIM_VOTES = ",\n".join(
    f"           SUM(((hv >> {SIMHASH_BITS - 1 - j}) & 1) * 2 - 1) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIM_VALUE = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN 1 ELSE 0 END) * {2 ** (SIMHASH_BITS - 1 - j)}"
    for j in range(SIMHASH_BITS)
)

_ORACLE_SIMHASH_PAIRS = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
    FROM documents
),
tokh AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(tok), 1, {SIMHASH_BITS // 4}) AS BIGINT) AS hv
    FROM tok
),
votes AS (
    SELECT doc_id,
{_SIM_VOTES}
    FROM tokh
    GROUP BY doc_id
),
sim AS (
    SELECT doc_id, CAST({_SIM_VALUE} AS BIGINT) AS simhash FROM votes
),
band_val AS (
    SELECT doc_id, simhash, g.band,
           (simhash >> ((3 - g.band) * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS bv
    FROM sim, generate_series(0, 3) AS g(band)
),
cand AS (
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM band_val a JOIN band_val b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT a, b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
ORDER BY a, b
"""


_ORACLE_DEDUP_RECALL = (
    "WITH "
    + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
exact AS (
    SELECT i.a, i.b FROM (
        SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
        FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2
    ) i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT) AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           {", ".join(f"MIN((h1 + {i} * h2) % {MERSENNE_61}) AS m{i}" for i in range(N_HASHES))}
    FROM hashed
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, g.band,
           {"CASE " + " ".join(f"WHEN g.band = {b} THEN md5(CAST(m{b * BAND_ROWS} AS VARCHAR) || '|' || CAST(m{b * BAND_ROWS + 1} AS VARCHAR))" for b in range(N_BANDS)) + " END"} AS band_key
    FROM sig, generate_series(0, {N_BANDS - 1}) AS g(band)
),
cand AS (
    SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
    FROM bands ba JOIN bands bb
      ON ba.band = bb.band AND ba.band_key = bb.band_key
     AND ba.doc_id < bb.doc_id
),
lshpairs AS (
    SELECT i.a, i.b FROM (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cand c JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ) i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
ne AS (SELECT COUNT(*) AS n_exact FROM exact),
nl AS (SELECT COUNT(*) AS n_lsh FROM lshpairs),
nh AS (
    SELECT COUNT(*) AS n_hits
    FROM lshpairs l JOIN exact e ON e.a = l.a AND e.b = l.b
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(CASE WHEN n_exact = 0 THEN 0
            ELSE n_hits * 1000000 // n_exact END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_lsh = 0 THEN 1000000
            ELSE n_hits * 1000000 // n_lsh END AS BIGINT) AS precision_ppm
FROM ne, nl, nh
"""
)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_clusters(load_table(spark, sf_dir, "documents"))


_ORACLE_CLUSTERS = (
    "WITH RECURSIVE "
    + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
pairs AS (
    SELECT i.a, i.b
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b AS node, r.lbl
    FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, cs.cluster_size
FROM comp c JOIN csize cs USING (cluster_id)
ORDER BY c.doc_id
"""
)


def keep_best_per_cluster(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Canonical selection — the step after clustering that decides WHICH
    duplicate survives: per cluster keep the longest document (most
    complete copy; the standard curation rule), ties broken by min doc_id.
    Output is the per-cluster audit a deletion job consumes: the kept doc
    and how many rows the dedup will drop.

    Scale: one broadcast-sized window over the cluster assignment (the
    partition key bounds the group — per-cluster, never global), joined
    map-side to the doc-length column; no new shuffle shape beyond
    ``duplicate_clusters`` itself."""
    clusters = duplicate_clusters(docs, k, threshold, max_df)
    enriched = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        enriched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").alias("keep_n_chars"),
            F.col("cluster_size").alias("n_docs"),
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keep_best_per_cluster(load_table(spark, sf_dir, "documents"))


_ORACLE_KEEP_BEST = (
    "WITH RECURSIVE "
    + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
pairs AS (
    SELECT i.a, i.b
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b AS node, r.lbl
    FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.cluster_id, d.doc_id AS keep_doc, d.n_chars AS keep_n_chars,
       cs.cluster_size AS n_docs, cs.cluster_size - 1 AS n_dropped
FROM comp c
JOIN csize cs USING (cluster_id)
JOIN documents d ON d.doc_id = c.doc_id
QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                           ORDER BY d.n_chars DESC, d.doc_id) = 1
ORDER BY c.cluster_id
"""
)


# --- paragraph-level dedup --------------------------------------------------
PARA_TOKENS = 32  # fixed-size token segments stand in for paragraphs
                  # (the synthetic corpus has no newlines; a real corpus
                  # swaps this for split-on-blank-line)


def paragraph_dedup(
    docs: DataFrame, seg_tokens: int = PARA_TOKENS, text_col: str = "text"
) -> DataFrame:
    """Sub-document (paragraph-granular) dedup: segment each doc into
    fixed-size token windows, hash each segment, and report per doc how
    many of its segments also occur in at least one OTHER doc — the
    gate that catches boilerplate/chunk-level duplication that doc-level
    hashing misses.

    Scale: explode is O(total segments), the per-hash aggregate counts
    DISTINCT docs per segment hash (one shuffle on the 16-byte hash, not
    the text), and the verdict joins back on hash. Nothing ever pairs
    docs directly, so there is no quadratic blow-up. The distinct
    (doc, hash) table is materialized (``localCheckpoint``) because both
    the per-hash aggregate and the verdict join read it — it is 48 bytes
    a row regardless of paragraph size, so pinning it beats re-exploding
    the corpus (exchange reuse cannot deduplicate self-derived branches;
    see tfidf_top_terms)."""
    docs = widen_if_narrow(docs)
    t = tokens(F.col(text_col))
    # greatest(..., 1): F.sequence(0, -1) would produce a DESCENDING
    # [0, -1] when n_seg = 0 (Spark picks step -1 when start > stop),
    # emitting two bogus md5('') segments while DuckDB's
    # generate_series(0, -1) is empty. Unreachable today (split('')
    # returns ['']) but pinned on both sides anyway.
    n_seg = F.greatest(
        F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int"), F.lit(1)
    )
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.md5(
            F.array_join(F.slice(t, i * seg_tokens + 1, seg_tokens), " ")
        ),
    )
    # distinct: within-doc repeats count once
    seg_rows = (
        docs.select("doc_id", F.explode(segs).alias("h"))
        .distinct()
        .localCheckpoint()
    )
    hash_df = seg_rows.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    per_doc = (
        seg_rows.join(hash_df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_shared_segments"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_shared_segments",
        F.round(F.try_divide(F.col("n_shared_segments"), F.col("n_segments")), 6).alias(
            "shared_ratio"
        ),
    ).orderBy("doc_id")


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


_ORACLE_PARAGRAPH = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
segs AS (
    SELECT DISTINCT doc_id,
           md5(array_to_string(
               toks[i * {PARA_TOKENS} + 1 : (i + 1) * {PARA_TOKENS}], ' ')) AS h
    FROM t, UNNEST(generate_series(
            0, GREATEST(CAST(CEIL(len(toks) / {PARA_TOKENS}.0) AS INT), 1)
               - 1)) AS g(i)
),
hash_df AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY h)
SELECT s.doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN hd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_segments,
       ROUND(CAST(SUM(CASE WHEN hd.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(COUNT(*), 0), 6) AS shared_ratio
FROM segs s JOIN hash_df hd USING (h)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# --- prefix-filtering set-similarity join (PPJoin-style) --------------------
# 0.8, not 0.5: the prefix indexes ⌊|set|·(1−t)⌋+1 elements, so low
# thresholds index most of every set and the candidate join fattens
# toward all-pairs-sharing-an-element (measured 6 s vs 1.4 s for
# MinHash-LSH at t=0.5 on sf0.1). High-t near-dup is what PPJoin is
# for; the 0.5 regime belongs to LSH banding (dedup_minhash_lsh).
PREFIX_THRESHOLD = 0.8


def prefix_filter_pairs(
    docs: DataFrame, threshold: float = PREFIX_THRESHOLD, text_col: str = "text"
) -> DataFrame:
    """Token-set Jaccard join via PREFIX FILTERING (the PPJoin family):
    order each doc's tokens rarest-first (global df asc, token asc) and
    index only the first ⌊|set|·(1−t)⌋+1 tokens — the pigeonhole
    guarantee is that any pair with Jaccard ≥ t must share at least one
    PREFIX token, so the candidate join touches a small, rare slice of
    the inverted index instead of every posting. The exact-Jaccard
    verify then keeps precision at 1.

    Complements MinHash-LSH: prefix filtering is EXACT (recall 1 at the
    threshold, no banding probability) and its candidate volume is
    driven by rare-token selectivity rather than signature collisions —
    on skewed vocabularies it probes far less of the index.

    The set universe is 3-GRAM SHINGLES, not unigrams: prefix filtering
    depends on set elements being rare, and a small-vocabulary corpus
    makes every unigram common — measured at sf0.1, unigram sets
    degenerated to a near-all-pairs candidate join (107 s vs <1 s with
    shingles, identical machinery). Shingles are the discriminative
    universe a near-dup pass uses anyway (same as ngram_jaccard).

    Scale: df table is a partial-agg groupBy (skew-immune, broadcast
    back); per-doc ordering is a doc-partitioned window (bounded);
    candidates join only prefix postings; the verify legs reuse the
    materialized shingle table."""
    tok = (
        widen_if_narrow(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles(tokens(F.col(text_col)), 3))
            ).alias("token"),
        )
        .localCheckpoint()
    )
    df_tab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # No forced broadcast and no manual row-count guard: the df table is
    # vocabulary-sized (shingle universe — unbounded at web scale), so the
    # broadcast decision belongs to AQE, which sizes the build side from
    # its actual runtime shuffle bytes: small vocab → runtime broadcast
    # join, huge vocab → stays sort-merge, no OOM. Measured at sf0.1:
    # join_small's count()+checkpoint cost +0.7 s (~25%) over this plan,
    # while AQE's runtime conversion is within 0.2 s of a forced
    # broadcast — tests/test_dedup.py pins both AQE behaviors.
    ranked = tok.join(df_tab, "token").select(
        "doc_id",
        "token",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "token"))
        .alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_tok"),
    )
    prefix = ranked.where(
        F.col("pos") <= F.floor(F.col("n_tok") * (1 - threshold)).cast("int") + 1
    ).select("doc_id", "token")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("n_b"))
    inter = pair_overlap(tok, "token", cands=candidate_pairs(prefix, ["token"]))
    return threshold_pairs(inter, sa, sb, threshold)


def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_PREFIX = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(
        [array_to_string(toks[i:i+2], ' ')
         FOR i IN generate_series(1, len(toks) - 2)]
    )) AS token
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
),
df_tab AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
ranked AS (
    SELECT t.doc_id, t.token,
           ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS pos,
           COUNT(*) OVER (PARTITION BY t.doc_id) AS n_tok
    FROM tok t JOIN df_tab d USING (token)
),
prefix AS (
    SELECT doc_id, token FROM ranked
    WHERE pos <= CAST(FLOOR(n_tok * (1 - {PREFIX_THRESHOLD})) AS INT) + 1
),
cand AS (
    SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b
    FROM prefix pa JOIN prefix pb USING (token)
    WHERE pa.doc_id < pb.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (
    SELECT c.a, c.b, COUNT(*) AS n_inter
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.a
    JOIN tok tb ON tb.doc_id = c.b AND tb.token = ta.token
    GROUP BY c.a, c.b
)
SELECT i.a, i.b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / NULLIF(sa.n + sb.n - i.n_inter, 0), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.n_inter * 1000000
      >= {int(round(PREFIX_THRESHOLD * 1_000_000))}
         * (sa.n + sb.n - i.n_inter)
ORDER BY a, b
"""


# --- weighted (multiset) Jaccard ---------------------------------------------
WEIGHTED_THRESHOLD = 0.5


def weighted_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = WEIGHTED_THRESHOLD,
    max_df: int = MAX_DF,
    text_col: str = "text",
) -> DataFrame:
    """Multiset-Jaccard near-dup pairs: J_w = Σ min(c_a, c_b) / Σ max —
    the repetition-aware variant of ``ngram_jaccard_pairs``. Set Jaccard
    treats a boilerplate shingle repeated 50× the same as one occurrence;
    the weighted form scores templated/spammy near-dups the set form
    underrates. Σ max = S_a + S_b − Σ min, so only shared shingles join.

    Scale: identical shape to the set form (shared-shingle equi-join,
    stop-shingle cap, integer cross-mult threshold) with per-doc counts
    riding along instead of a distinct explode.
    """
    sh = (
        widen_if_narrow(docs)
        .select(
            "doc_id",
            F.explode(shingles(tokens(F.col(text_col)), k)).alias("shingle"),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    capped, _ = cap_hot(sh, "shingle", max_df)
    sizes = capped.groupBy("doc_id").agg(F.sum("c").alias("s"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("s").alias("s_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("s").alias("s_b"))
    n_min = F.sum(F.least("ca", "cb")).alias("n_min")
    inter = pair_overlap(capped, "shingle", agg=n_min, carry=("c",))
    return threshold_pairs(inter, sa, sb, threshold, "w_jaccard", ("n_min",))


def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_jaccard_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_WEIGHTED_JACCARD = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh0 AS (
    SELECT doc_id, shingle, COUNT(*) AS c FROM (
        SELECT doc_id,
               unnest([array_to_string(toks[i:i+2], ' ')
                       FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        FROM t
    ) GROUP BY doc_id, shingle
),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {MAX_DF}),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS s FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS n_min
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.a, i.b, i.n_min,
       ROUND(CAST(i.n_min AS DOUBLE)
             / NULLIF(sa.s + sb.s - i.n_min, 0), 6) AS w_jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.n_min * 1000000
      >= {int(round(WEIGHTED_THRESHOLD * 1_000_000))} * (sa.s + sb.s - i.n_min)
ORDER BY i.a, i.b
"""


# --- idf-weighted shingle cosine -------------------------------------------

TFIDF_COS_THRESHOLD = 0.35
IDF_SCALE = 1000  # idf quantized to milli-nats (exact-integer weights)


def tfidf_cosine_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = TFIDF_COS_THRESHOLD,
    max_df: int = MAX_DF,
    text_col: str = "text",
) -> DataFrame:
    """TF-IDF cosine near-dup pairs: the vector-space complement of the
    Jaccard family — rare shared shingles count for more, boilerplate for
    less. Weights are tf · idf with idf = ln(N/df) QUANTIZED to integer
    milli-nats (``IDF_SCALE``), so the dot product and both squared norms
    are exact BIGINT sums — order-independent across partitions and
    bit-identical in DuckDB; floats appear only in the final
    sqrt/divide/round hop (repo-wide integer-moment discipline).

    Headroom: per-term weight = tf · idf_e3 ≤ tf · 21000 at N = 1e9 docs;
    the BIGINT dot stays exact while Σ (tf·idf_e3)² < 9.2e18 — safe for
    tf ≲ 1e4 per shingle at ≤ 1e5 shingles/doc, far beyond real
    documents.

    Scale: shared-shingle posting join only (Σ df² pair-terms, stop-
    shingle capped at ``max_df``), identical shape to
    ``weighted_jaccard_pairs``; N is a broadcast one-row aggregate, not a
    driver collect.
    """
    sh = (
        widen_if_narrow(docs)
        .select(
            "doc_id",
            F.explode(shingles(tokens(F.col(text_col)), k)).alias("shingle"),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    # ONE df aggregate serves both roles: the inner join below keeps only
    # shingles with df ≤ max_df (the stop-shingle cap — no separate
    # anti-join pass) and carries the df the idf needs. Dropping a hot
    # shingle doesn't change any other shingle's df, so df-on-full equals
    # df-on-capped for every surviving shingle.
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = (
        sh.join(df_ok, "shingle")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "shingle",
            (
                F.col("c")
                * F.floor(
                    F.log(F.col("n_docs").cast("double") / F.col("df"))
                    * IDF_SCALE
                ).cast("long")
            ).alias("w"),
        )
        .localCheckpoint()
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    dots = pair_overlap(
        weighted,
        "shingle",
        agg=F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        carry=("w",),
    )
    cos = (
        dots.join(norms.select(F.col("doc_id").alias("a"), F.col("n2").alias("na2")), "a")
        .join(norms.select(F.col("doc_id").alias("b"), F.col("n2").alias("nb2")), "b")
        .select(
            "a",
            "b",
            # try_divide: a doc whose every shingle is corpus-ubiquitous
            # has norm 0 (idf floor hits 0) — NULL here, dropped by the
            # threshold filter, matching DuckDB's NULL-on-zero division
            # and the pure-python reference (a bare `/` crashes under
            # ANSI mode)
            F.round(
                F.try_divide(
                    F.col("dot").cast("double"),
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double")),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return cos.where(F.col("cos_sim") >= threshold).orderBy("a", "b")


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_TFIDF_COSINE = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
shm AS (
    SELECT doc_id, shingle, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(
            [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)]
        ) AS shingle
        FROM t
    ) GROUP BY doc_id, shingle
),
hot AS (
    SELECT shingle FROM shm GROUP BY shingle HAVING COUNT(*) > {MAX_DF}
),
capped AS (
    SELECT * FROM shm WHERE shingle NOT IN (SELECT shingle FROM hot)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfs AS (SELECT shingle, COUNT(*) AS df FROM capped GROUP BY shingle),
weighted AS (
    SELECT c.doc_id, c.shingle,
           c.c * CAST(FLOOR(ln(CAST(n.n_docs AS DOUBLE) / d.df)
                            * {IDF_SCALE}) AS BIGINT) AS w
    FROM capped c JOIN dfs d ON c.shingle = d.shingle, n
),
norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM weighted GROUP BY doc_id),
dots AS (
    SELECT wa.doc_id AS a, wb.doc_id AS b, SUM(wa.w * wb.w) AS dot
    FROM weighted wa JOIN weighted wb
      ON wa.shingle = wb.shingle AND wa.doc_id < wb.doc_id
    GROUP BY wa.doc_id, wb.doc_id
)
SELECT d.a, d.b,
       ROUND(CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
             6) AS cos_sim
FROM dots d
JOIN norms na ON na.doc_id = d.a
JOIN norms nb ON nb.doc_id = d.b
WHERE ROUND(CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
            6) >= {TFIDF_COS_THRESHOLD}
ORDER BY d.a, d.b
"""


# --- corpus dedup accounting ------------------------------------------------


def cluster_stats(docs: DataFrame) -> DataFrame:
    """Dedup accounting over the near-dup cluster assignment: how many
    clusters exist at each size, how many docs they hold, and how many
    docs a keep-one-per-cluster pass would remove — the headline numbers
    a dedup run reports ("N% of the corpus was near-duplicate").

    Scale: one aggregation over the cluster assignment (itself the
    iterative label-prop output); the histogram is |distinct sizes| rows.
    """
    c = duplicate_clusters(docs)
    return (
        c.groupBy("cluster_size")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_stats(load_table(spark, sf_dir, "documents"))


_ORACLE_CLUSTER_STATS = (
    "WITH RECURSIVE "
    + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
pairs AS (
    SELECT i.a, i.b
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b AS node, r.lbl
    FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
FROM csize
GROUP BY cluster_size
ORDER BY cluster_size
"""
)


# --- cross-split leakage audit ---------------------------------------------


def cross_split_leakage(
    docs: DataFrame,
    k: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Near-duplicate pairs that straddle a train/val/test boundary — the
    contamination a hash-based split cannot prevent (near-identical content
    under DIFFERENT doc_ids lands in different splits). Run before
    training; any row here is eval leakage. Composes the exact-Jaccard
    pair generator with the content-stable split assignment
    (operators/text.py dataset_split). No reference analogue —
    LLM-pipeline surface.

    Scale: the pair set is already bounded by the shared-shingle join and
    is tiny relative to the corpus; the split table is corpus-sized, so
    the two lookups join the pair side against it on doc_id — AQE
    broadcasts the pair side when it proves small. The corpus text is
    never re-scanned.
    """
    from admob_data_pipeline_spark.operators.text import dataset_split

    pairs = ngram_jaccard_pairs(docs, k, threshold, max_df)
    s = dataset_split(docs)
    sa = s.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "split_a", "split_b", "jaccard")
        .orderBy("a", "b")
    )


def q_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cross_split_leakage(load_table(spark, sf_dir, "documents"))


_ORACLE_SPLIT_LEAKAGE = (
    "WITH " + _DUCK_SHINGLES.format(max_df=MAX_DF, src="documents")
    + f""",
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
pairs AS (
    SELECT i.a, i.b,
           ROUND(CAST(i.n_inter AS DOUBLE)
                 / NULLIF(za.n_sh + zb.n_sh - i.n_inter, 0), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1000000
          >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
             * (za.n_sh + zb.n_sh - i.n_inter)
),
spl AS (
    SELECT doc_id,
           CASE WHEN frac < 0.1 THEN 'val'
                WHEN frac < 0.2 THEN 'test'
                ELSE 'train' END AS split
    FROM (SELECT doc_id,
                 CAST('0x' || substr(md5('split-seed-1' || '|' || CAST(doc_id AS VARCHAR)),
                                     1, 13) AS BIGINT) / POWER(16, 13) AS frac
          FROM documents)
)
SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b, p.jaccard
FROM pairs p
JOIN spl sa ON sa.doc_id = p.a
JOIN spl sb ON sb.doc_id = p.b
WHERE sa.split <> sb.split
ORDER BY p.a, p.b
"""
)


# --- exact-substring duplication (window-granular) --------------------------
SUBSTR_K = 5


def substring_dup_stats(
    docs: DataFrame, k: int = SUBSTR_K, text_col: str = "text"
) -> DataFrame:
    """Per-doc fraction of positional k-token windows whose gram also
    occurs in at least one OTHER document — the window-granular form of
    exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", 2021). A high fraction flags a doc assembled
    from cross-corpus boilerplate even when no whole-doc near-dup exists;
    whole-doc measures (Jaccard, MinHash) miss exactly this case.

    Unlike ``ngram_jaccard_pairs`` the windows are POSITIONAL (not
    distinct-per-doc): a boilerplate paragraph repeated 10× inside a doc
    counts 10× against it, matching the span-removal semantics of
    suffix-array dedup at k-gram granularity.

    Scale: windows shuffle once on gram for the distinct-doc census; the
    duplicated-gram set (grams in ≥2 docs) joins back via join_small
    (broadcast only when proven small, else shuffle + AQE skew handling).
    Window rows are materialized once (eager localCheckpoint — cache()
    misses on widened plans, playbook #17) and feed both the census and
    the per-doc rollup.
    """
    docs = widen_if_narrow(docs)
    g = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col(text_col)), k)).alias("gram")
    ).localCheckpoint()
    dup_grams = (
        g.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs_g"))
        .where(F.col("n_docs_g") >= 2)
        .select("gram")
        .localCheckpoint()
    )
    n_win = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    n_dup = (
        join_small(g, dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    # per-doc ppm: n_dup_windows ≤ n_windows ≤ doc length, so the e6
    # scale cannot overflow per doc (two-stage ppm is for corpus-scale
    # sums — playbook #23); integer DIV keeps both engines exact.
    return (
        docs.select("doc_id")
        .join(n_win, "doc_id", "left")
        .join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.when(
                F.col("n_windows") > 0,
                F.expr("n_dup_windows * 1000000 DIV n_windows"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_stats(load_table(spark, sf_dir, "documents"))


_ORACLE_SUBSTRING = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
g AS (
    SELECT doc_id,
           unnest([array_to_string(toks[i:i+{SUBSTR_K - 1}], ' ')
                   FOR i IN generate_series(1, len(toks) - {SUBSTR_K - 1})]) AS gram
    FROM t
),
census AS (
    SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
    GROUP BY gram HAVING COUNT(*) >= 2
),
wins AS (SELECT doc_id, COUNT(*) AS n_windows FROM g GROUP BY doc_id),
dups AS (
    SELECT doc_id, COUNT(*) AS n_dup_windows
    FROM g WHERE gram IN (SELECT gram FROM census)
    GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(w.n_windows, 0) AS n_windows,
       COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
       CASE WHEN COALESCE(w.n_windows, 0) > 0
            THEN COALESCE(p.n_dup_windows, 0) * 1000000 // w.n_windows
            ELSE 0 END AS dup_ppm
FROM documents d
LEFT JOIN wins w USING (doc_id)
LEFT JOIN dups p USING (doc_id)
ORDER BY d.doc_id
"""


# --- LSH recall sweep (threshold curve) --------------------------------------

SWEEP_PCTS = (50, 60, 70, 80, 90)


def lsh_recall_sweep(
    docs: DataFrame, k: int = 3, max_df: int = MAX_DF
) -> DataFrame:
    """Recall curve of the RAW LSH candidate set across similarity
    thresholds: for each τ ∈ {0.5..0.9}, how many true ≥τ-Jaccard pairs
    the band-bucket join surfaces BEFORE verification — the empirical
    banding-probability curve 1−(1−s^r)^b measured on THIS corpus, the
    evidence behind choosing (bands, rows) for a production dedup run
    (dedup_recall_audit scores one operating point; this sweeps the
    curve).

    Exactness: truth membership is integer cross-multiplication per
    threshold (n_inter·100 ≥ pct·union); recall is integer ppm.

    Scale: truth pairs exist only through the shared-shingle join,
    candidates only through the band-bucket join — both already bounded;
    the τ sweep is a 5-way explode over the tagged pair table, nothing
    rescans the corpus.
    """
    sh = _capped_shingles(docs, k, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    allp = pair_overlap(sh, "shingle")
    cand = candidate_pairs(
        lsh_band_keys(minhash_signatures(sh)), ["band", "band_key"]
    ).withColumn("is_cand", F.lit(1))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    tagged = (
        allp.join(sa, "a")
        .join(sb, "b")
        .join(cand, ["a", "b"], "left")
        .select(
            "n_inter",
            "n_a",
            "n_b",
            F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        )
        .localCheckpoint()
    )
    swept = tagged.select(
        "*",
        F.explode(
            F.array(*[F.lit(p) for p in SWEEP_PCTS])
        ).alias("pct"),
    )
    truth = F.col("n_inter") * 100 >= F.col("pct") * (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    agg = swept.groupBy("pct").agg(
        F.sum(F.when(truth, 1).otherwise(0)).alias("n_truth"),
        F.sum(F.when(truth & (F.col("is_cand") == 1), 1).otherwise(0)).alias(
            "n_hit"
        ),
    )
    return agg.select(
        F.col("pct").cast("int").alias("threshold_pct"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.expr(
            "CAST(CASE WHEN n_truth = 0 THEN 1000000"
            " ELSE n_hit * 1000000 DIV n_truth END AS BIGINT)"
        ).alias("recall_ppm"),
    ).orderBy("threshold_pct")


def q_lsh_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_recall_sweep(load_table(spark, sf_dir, "documents"))


_ORACLE_LSH_SWEEP = (
    "WITH "
    + _MINHASH_CAND_CTES
    + f"""
allp AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
),
tagged AS (
    SELECT p.n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
           CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
    FROM allp p
    JOIN sizes za ON za.doc_id = p.a
    JOIN sizes zb ON zb.doc_id = p.b
    LEFT JOIN cand c ON c.a = p.a AND c.b = p.b
),
sweep AS (
    SELECT t.pct,
           CAST(SUM(CASE WHEN n_inter * 100 >= t.pct * (n_a + n_b - n_inter)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN n_inter * 100 >= t.pct * (n_a + n_b - n_inter)
                          AND is_cand = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
    FROM tagged, generate_series(50, 90, 10) AS t(pct)
    GROUP BY t.pct
)
SELECT CAST(pct AS INT) AS threshold_pct, n_truth, n_hit,
       CAST(CASE WHEN n_truth = 0 THEN 1000000
                 ELSE n_hit * 1000000 // n_truth END AS BIGINT) AS recall_ppm
FROM sweep
ORDER BY threshold_pct
"""
)


# --- (w,k)-minimizer sampling dedup ------------------------------------------

MINIMIZER_W = 4  # window: keep the min shingle-hash of every 4 consecutive


def minimizer_fingerprints(
    docs: DataFrame, k: int = 3, w: int = MINIMIZER_W, text_col: str = "text"
) -> DataFrame:
    """(doc_id, minimizer) pairs under (w,k)-minimizer sampling: hash the
    positional k-shingle sequence, keep the MINIMUM hash of every window
    of ``w`` consecutive shingles, distinct per doc. The sketch keeps
    ~2/(w+1) of the shingles while guaranteeing that any two documents
    sharing a run of ≥ w+k-1 tokens share at least one minimizer — the
    sampling used by genomics seed-matching (minimap) and
    suffix-window text dedup, and the lever that cuts the candidate-join
    shuffle volume ~(w+1)/2× vs full-shingle Jaccard at 100 TB.

    Hashes are md5→BIGINT (13 hex chars, playbook #4), windows via a
    higher-order transform over the hash array (JVM codegen, no Python);
    docs shorter than one window fall back to their single global min so
    every non-empty doc keeps ≥ 1 fingerprint.
    """
    docs = widen_if_narrow(docs)
    with_hashes = docs.select(
        "doc_id",
        F.transform(
            shingles(tokens(F.col(text_col)), k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long"),
        ).alias("hs"),
    )
    mins = F.expr(
        f"CASE WHEN size(hs) >= {w} THEN"
        f"  transform(sequence(1, size(hs) - {w - 1}),"
        f"            i -> array_min(slice(hs, i, {w})))"
        f" WHEN size(hs) >= 1 THEN array(array_min(hs))"
        f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return with_hashes.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("mz")
    )


def minimizer_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = MINIMIZER_W,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """Near-dup pairs by Jaccard over the MINIMIZER sets (an unbiased
    window-sample of the shingle space): candidates only through a
    shared-minimizer equi-join, hot minimizers capped like hot shingles
    (one viral phrase must not produce a quadratic candidate blow-up).
    The threshold is exact integer cross-multiplication; the rounded
    jaccard column is display-only (playbook #2)."""
    mz, _ = cap_hot(minimizer_fingerprints(docs, k, w).localCheckpoint(), "mz", max_df)
    sizes = mz.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_mz"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_mz").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_mz").alias("n_b"))
    n_inter = F.col("n_inter").cast("long").alias("n_inter")
    return threshold_pairs(
        pair_overlap(mz, "mz"), sa, sb, threshold, "jaccard_mz", (n_inter,)
    )


def q_minimizer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minimizer_pairs(load_table(spark, sf_dir, "documents"))


_ORACLE_MINIMIZER = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
shl AS (
    SELECT doc_id,
           [array_to_string(toks[i:i+2], ' ')
            FOR i IN generate_series(1, len(toks) - 2)] AS sh
    FROM t
),
hsh AS (
    SELECT doc_id,
           [CAST('0x' || substr(md5(s), 1, 13) AS BIGINT) FOR s IN sh] AS hs
    FROM shl
),
wins AS (
    SELECT doc_id,
           CASE WHEN len(hs) >= {MINIMIZER_W} THEN
                    [list_min(hs[i:i+{MINIMIZER_W - 1}])
                     FOR i IN generate_series(1, len(hs) - {MINIMIZER_W - 1})]
                WHEN len(hs) >= 1 THEN [list_min(hs)]
                ELSE CAST([] AS BIGINT[]) END AS mins
    FROM hsh
),
mz0 AS (SELECT doc_id, unnest(list_distinct(mins)) AS mz FROM wins),
hot AS (SELECT mz FROM mz0 GROUP BY mz HAVING COUNT(*) > {MAX_DF}),
mz AS (SELECT doc_id, mz FROM mz0 WHERE mz NOT IN (SELECT mz FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_mz FROM mz GROUP BY doc_id),
inter AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM mz sa JOIN mz sb ON sa.mz = sb.mz AND sa.doc_id < sb.doc_id
    GROUP BY sa.doc_id, sb.doc_id
)
SELECT i.a, i.b, CAST(i.n_inter AS BIGINT) AS n_inter,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / NULLIF(za.n_mz + zb.n_mz - i.n_inter, 0), 6) AS jaccard_mz
FROM inter i
JOIN sizes za ON za.doc_id = i.a
JOIN sizes zb ON zb.doc_id = i.b
WHERE i.n_inter * 1000000
      >= {int(round(JACCARD_THRESHOLD * 1_000_000))}
         * (za.n_mz + zb.n_mz - i.n_inter)
ORDER BY i.a, i.b
"""


QUERIES = {
    "dedup_exact": q_exact_dedup,
    "dedup_prefix_filter": q_prefix_filter_pairs,
    "dedup_paragraph": q_paragraph_dedup,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_containment": q_containment,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_incremental": q_incremental_lsh,
    "dedup_keep_best": q_keep_best,
    "dedup_recall_audit": q_dedup_recall_audit,
    "dedup_simhash": q_simhash_pairs,
    "dedup_clusters": q_duplicate_clusters,
    "dedup_split_leakage": q_cross_split_leakage,
    "dedup_substring": q_substring_dup,
    "dedup_cluster_stats": q_cluster_stats,
    "dedup_weighted_jaccard": q_weighted_jaccard,
    "dedup_minimizer": q_minimizer_pairs,
    "dedup_lsh_sweep": q_lsh_recall_sweep,
    "dedup_tfidf_cosine": q_tfidf_cosine,
}

ORACLES = {
    "dedup_tfidf_cosine": _ORACLE_TFIDF_COSINE,
    "dedup_lsh_sweep": _ORACLE_LSH_SWEEP,
    "dedup_minimizer": _ORACLE_MINIMIZER,
    "dedup_weighted_jaccard": _ORACLE_WEIGHTED_JACCARD,
    "dedup_cluster_stats": _ORACLE_CLUSTER_STATS,
    "dedup_split_leakage": _ORACLE_SPLIT_LEAKAGE,
    "dedup_substring": _ORACLE_SUBSTRING,
    "dedup_prefix_filter": _ORACLE_PREFIX,
    "dedup_paragraph": _ORACLE_PARAGRAPH,
    "dedup_clusters": _ORACLE_CLUSTERS,
    "dedup_exact": _ORACLE_EXACT,
    "dedup_ngram_jaccard": _ORACLE_NGRAM_JACCARD,
    "dedup_containment": _ORACLE_CONTAINMENT,
    "dedup_minhash_lsh": _ORACLE_MINHASH,
    "dedup_incremental": _ORACLE_INCREMENTAL,
    "dedup_keep_best": _ORACLE_KEEP_BEST,
    "dedup_recall_audit": _ORACLE_DEDUP_RECALL,
    "dedup_simhash": _ORACLE_SIMHASH_PAIRS,
}
