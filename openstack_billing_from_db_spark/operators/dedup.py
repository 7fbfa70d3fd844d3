"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH near-dup, SimHash and word-split perceptual-hash near-dup —
each designed so the heavy signature computation is a pure map-side
projection (array expressions, no explode, no shuffle) and the only
shuffles are the final bucket-equality self-joins on LSH keys.

Perceptual fingerprints (operators/multimodal.py) always arrive as
(doc_id[, frame_idx], w0 .. w{n-1}) BIGINT words; the 56-bit one-word
fingerprint is the ``n_words=1`` case of the multi-word kernels, and
text SimHash (doc_id, simhash) keeps its own entry point.

Every banded hamming kernel (:func:`simhash_near_duplicates`,
:func:`multiword_hamming_pairs`, :func:`framewise_multiword_hamming_pairs`,
:func:`multiword_hamming_matches`, :func:`framewise_hamming_matches`) is
one join built from four shared helpers, each written once: the band
melt (``_band_melt``), the bucket cap (``_bucket_cap``), the
canonical-band test (``_first_band_sql``) and the hamming verify
(``_hamming``), assembled by a self-join core (``_hamming_pairs``) and a
probe core (``_hamming_matches``).

Scale notes (100 TB):
- signatures: embarrassingly parallel, whole-stage-codegen'd; no Python.
- candidate generation: shuffle keyed on (band, signature) — cardinality
  ≈ n_docs × n_bands with near-uniform buckets; skew only from giant
  exact-duplicate clusters, which AQE skew-join splits.
- verification (exact Jaccard) happens only on candidates. The default
  formulation is the exploded (doc, shingle)-count one: every joined row
  is narrow (ids + one shingle string), so row width — and therefore
  shuffle spill — is bounded regardless of document length. The
  array-carrying variant (``verify_via='arrays'``) remains for small
  corpora where a single map-side array_intersect beats two joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.hashing import (
    py_hash64,
    seeded_hash64,
)
from openstack_billing_from_db_spark.operators.caching import tracked_persist
from openstack_billing_from_db_spark.operators.parallelism import ensure_map_parallelism
from openstack_billing_from_db_spark.operators.text import words, word_shingles

# Mersenne prime modulus for the affine minhash family: base hashes and
# coefficients stay < 2^31, so a*h+b < 2^62 never overflows BIGINT in
# either engine.
MINHASH_P = (1 << 31) - 1


def _multiword_band_layout(
    *,
    n_words: int,
    word_bits: int,
    band_bits: int,
    bits: int | None,
    max_hamming: int,
) -> int:
    """Validated band count shared by the hamming entry points that
    check their geometry (all but :func:`simhash_near_duplicates`):
    returns ``n_bands``. ``band_bits`` must divide
    ``word_bits`` so a band never straddles two words — EXCEPT when
    ``n_words == 1``, where straddling is impossible and any width with
    ``bpw = word_bits // band_bits >= 1`` bands the one word exactly as
    :func:`simhash_near_duplicates` would (band b reads bits
    [b·band_bits, …); the tail bits past ``bpw·band_bits`` are
    uncovered, which only ever RAISES per-band selectivity and never
    breaks pigeonhole recall — the check below binds on the surviving
    band count). :func:`tune_hamming_band_bits` applies the same
    one-word rule, so the 56-bit perceptual fingerprints (image, audio,
    video frame — the first rung of multimodal's escalation ladder)
    band at the tuner's 11-bit width."""
    if n_words > 1 and word_bits % band_bits:
        raise ValueError(
            f"band_bits ({band_bits}) must divide word_bits ({word_bits})"
        )
    bpw = word_bits // band_bits
    if bpw < 1:
        raise ValueError(
            f"band_bits ({band_bits}) wider than word_bits ({word_bits})"
        )
    if bits is None:
        bits = n_words * word_bits
    if not 0 < bits <= n_words * word_bits:
        raise ValueError(
            f"bits ({bits}) must be in (0, {n_words * word_bits}]"
        )
    n_bands = min(n_words * bpw, -(-bits // band_bits))
    if n_bands <= max_hamming:
        raise ValueError(
            f"only {n_bands} non-padding bands at band_bits={band_bits} "
            f"over a {bits}-bit fingerprint — pigeonhole recall needs "
            f"more than max_hamming={max_hamming}; narrow the bands"
        )
    return n_bands


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family — derived
    from md5 so the oracle SQL embeds the same literals."""
    return [
        (py_hash64(f"mh_a{j}") % (MINHASH_P - 1) + 1, py_hash64(f"mh_b{j}") % MINHASH_P)
        for j in range(num_hashes)
    ]


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (minimum) id and the copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# above this estimated input size the array-carrying verify join risks
# shuffle spill from wide rows; the exploded narrow-row path takes over
_ARRAY_VERIFY_MAX_BYTES = 256 << 20


def _pick_verify_path(docs: DataFrame) -> str:
    """Catalyst's logical-plan size estimate — available without running
    the query (file sources report real bytes) via the version-gated
    wrapper parallelism.plan_size_estimate; unknown → assume big."""
    from openstack_billing_from_db_spark.operators.parallelism import (
        plan_size_estimate,
    )

    size = plan_size_estimate(docs)
    if size is None:
        return "exploded"  # unknown size: assume big
    return "arrays" if size < _ARRAY_VERIFY_MAX_BYTES else "exploded"


# --- SQL-text twins of the signature builders --------------------------------
#
# Building the shingle/minhash/band expressions as Column objects costs
# one py4j round trip per operator — ~0.7 s of pure driver time per
# minhash_near_duplicates call (and the composed recipes build the
# chain once per execution). Each builder below emits its expression
# tree as one SQL string parsed in a single round trip; the golden tests
# and oracle parity pin output equality.


def _words_sql(text_expr: str) -> str:
    """SQL twin of text.words."""
    return f"filter(split(trim({text_expr}), ' '), w -> w != '')"


def _word_shingles_sql(arr_expr: str, n: int) -> str:
    """SQL twin of text.word_shingles (same fold of zip_with concats)."""
    m = f"(size({arr_expr}) - {n - 1})"
    acc = f"slice({arr_expr}, 1, {m})"
    for j in range(1, n):
        acc = (
            f"zip_with({acc}, slice({arr_expr}, {1 + j}, {m}), "
            f"(a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"CASE WHEN (size({arr_expr}) >= {n}) THEN {acc} "
        f"ELSE CAST(array() AS array<string>) END"
    )


def _portable_hash64_sql(expr: str) -> str:
    """Spark-SQL twin of functions.hashing.portable_hash64 (the Column
    form — conv(substring(md5)), not the DuckDB concat-0x form)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _shingle_hashes_sql(arr_expr: str) -> str:
    return (
        f"transform({arr_expr}, s -> "
        f"({_portable_hash64_sql('s')} % {MINHASH_P}))"
    )


def _minhash_signature_sql(arr_expr: str, num_hashes: int) -> list[str]:
    return [
        f"array_min(transform({arr_expr}, h -> ((({a} * h) + {b}) % {MINHASH_P})))"
        for a, b in minhash_coefficients(num_hashes)
    ]


def _minhash_band_sql(num_hashes: int, rows_per_band: int) -> list[str]:
    assert num_hashes % rows_per_band == 0
    n_bands = num_hashes // rows_per_band
    return [
        "md5(concat_ws(',', "
        + ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(n_bands)
    ]


def minhash_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    verify_via: str = "auto",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs with exact n-gram Jaccard verification.

    shingle → minhash → band → bucket-join; then Jaccard on the distinct
    shingle sets of each candidate pair. Output: (doc_a, doc_b, jaccard).

    ``verify_via='exploded'`` (the 100 TB path) computes the intersection
    as a join of narrow (pair, shingle) rows — no shingle array ever
    enters a shuffle, so row width is bounded regardless of document
    length. ``'arrays'`` carries both shingle arrays through the
    candidate join and intersects map-side — fewer joins, wide rows;
    faster while the corpus is small. ``'auto'`` (default) picks by
    Catalyst's pre-execution size estimate: arrays below
    ``_ARRAY_VERIFY_MAX_BYTES``, exploded above. Both paths are
    output-identical (pinned by tests/test_round2_fixes.py).

    ``max_bucket_size`` is the boilerplate safety valve for huge corpora:
    LSH buckets larger than the cap (giant template/boilerplate families,
    whose within-bucket pair count is quadratic) emit NO candidates —
    the measured 100× blowup of pair output is exactly these families.
    A capped run bounds per-bucket join work at cap² while pairs in
    normal-sized buckets are unaffected; a pair is emitted iff at least
    one of its colliding bands is under the cap (the canonical-band test
    skips oversized bands the same way the join does, so capping never
    drops a pair that a kept band would emit). Default None = emit all.
    """
    if verify_via == "auto":
        verify_via = _pick_verify_path(docs)
    n_bands = num_hashes // rows_per_band
    # rebalance BEFORE shingling: the guard shuffles narrow raw-text rows
    # (no-op at scale), so the md5-per-shingle map work runs cluster-wide
    # even when the input is one parquet row group
    src = ensure_map_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    )
    # shingle ONCE, cluster-wide, behind a persist: the signature branch
    # and the verify branch both read the cached (doc_id, shingles) rows
    # instead of re-evaluating the shingle expression. The short-doc
    # filter is applied ABOVE the persist boundary on purpose — a filter
    # on the projected shingle column would be pushed below the
    # parallelism-guard exchange into the (single-split) scan stage,
    # evaluating the whole shingle expression a second time on one core.
    shingled = tracked_persist(
        src.select(
            "doc_id",
            F.expr(_word_shingles_sql(_words_sql("__text"), shingle_n)).alias(
                "shingles"
            ),
        )
    )
    base = shingled.filter(F.size("shingles") >= 1)

    # distinct shingle sets: reused by both sides of the candidate verify
    # join (at production scale this is the signature table you would
    # materialize to parquet once per corpus snapshot)
    shingle_sets = tracked_persist(
        base.select("doc_id", F.array_distinct("shingles").alias("sh")).withColumn(
            "n_sh", F.size("sh")
        )
    )

    hashed = base.withColumn("sh_h", F.expr(_shingle_hashes_sql("shingles")))
    sigs = hashed.select(
        "doc_id",
        *[
            F.expr(s).alias(f"mh{j}")
            for j, s in enumerate(_minhash_signature_sql("sh_h", num_hashes))
        ],
    ).select(
        "doc_id",
        *[
            F.expr(s).alias(f"band{b}")
            for b, s in enumerate(
                _minhash_band_sql(num_hashes, rows_per_band)
            )
        ],
    )
    # slim band table — (doc_id, band, sig, sigvec) where sigvec is the
    # n_bands-long signature vector (a few bigints), so the LSH self-join
    # shuffles ~n_docs×n_bands narrow rows, never the shingle arrays
    band_cols = ", ".join(f"band{b}" for b in range(n_bands))
    struct_arr = ", ".join(
        f"named_struct('band', {b}, 'sig', band{b})" for b in range(n_bands)
    )
    melted = tracked_persist(
        sigs.withColumn("sigvec", F.expr(f"array({band_cols})"))
        .select(
            "doc_id",
            "sigvec",
            F.expr(f"explode(array({struct_arr}))").alias("bs"),
        )
        .select(
            "doc_id",
            "sigvec",
            F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"),
        )
    )

    side_cols = ["band", "sig", "doc_id", "sigvec"]
    if max_bucket_size is not None:
        # per-(band, sig) bucket sizes, keyed like the self-join (the
        # aggregation is partial/map-side over the narrow band rows);
        # every doc also gets its per-band size vector so the canonical-
        # band test below can skip oversized bands exactly like the join
        sizes = melted.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("__bn"))
        with_bn = melted.join(sizes, ["band", "sig"])
        bnvec = with_bn.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "__bn"))),
                lambda s: s["__bn"],
            ).alias("bnvec")
        )
        melted = (
            with_bn.filter(F.col("__bn") <= max_bucket_size)
            .join(bnvec, "doc_id")
        )
        side_cols.append("bnvec")

    def _side(suffix: str) -> DataFrame:
        renames = {"doc_id": f"doc_{suffix}", "sigvec": f"sv_{suffix}",
                   "bnvec": f"bv_{suffix}"}
        # only the a side's size vector is read by the canonical-band
        # test (colliding docs share the bucket, so bv_a[j] == bv_b[j]
        # whenever band j collides) — keep the b side of the banded
        # self-join free of the n_bands-long array
        cols = side_cols if suffix == "a" else [
            c for c in side_cols if c != "bnvec"
        ]
        return melted.select(
            *[F.col(c).alias(renames.get(c, c)) for c in cols]
        )

    a, b = _side("a"), _side("b")
    # canonical-band emission: keep a collision only when no EARLIER band
    # also collides (both signature vectors ride on the joined row, so
    # this is a map-side test) — each candidate pair appears exactly once
    # and the pair-distinct exchange disappears. With a bucket cap, an
    # earlier band only counts if its (shared) bucket was under the cap.
    fbo = "true"
    for j in range(n_bands):
        earlier = f"((band > {j}) AND (sv_a[{j}] = sv_b[{j}]))"
        if max_bucket_size is not None:
            earlier = f"({earlier} AND (bv_a[{j}] <= {max_bucket_size}))"
        fbo = f"({fbo} AND (NOT {earlier}))"
    first_band_only = F.expr(fbo)
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_band_only)
        .select("doc_a", "doc_b")
    )

    counts = shingle_sets.select("doc_id", "n_sh")
    n_a = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    n_b = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))

    if verify_via == "arrays":
        sh_a = shingle_sets.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
        )
        sh_b = shingle_sets.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        pair_inter = (
            cand.join(sh_a, "doc_a")
            .join(sh_b, "doc_b")
            .select("doc_a", "doc_b", inter.alias("n_inter"))
        )
    else:
        # exploded (doc, shingle) tokens: every joined row is narrow, so
        # document length never widens a shuffle row. cand → tokens of
        # doc_a → match tokens of doc_b on (doc_b, shingle) → count.
        tokens = shingle_sets.select("doc_id", F.explode("sh").alias("shingle"))
        t_a = tokens.select(F.col("doc_id").alias("doc_a"), "shingle")
        t_b = tokens.select(F.col("doc_id").alias("doc_b"), "shingle")
        pair_inter = (
            cand.join(t_a, "doc_a")
            .join(t_b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            # band-signature collisions can (theoretically) pair docs with
            # zero shared shingles; the inner token join drops those, so
            # restore them with jaccard 0 like the array path emits
            .join(cand, ["doc_a", "doc_b"], "right")
            .fillna({"n_inter": 0})
        )

    return pair_inter.join(n_a, "doc_a").join(n_b, "doc_b").select(
        "doc_a",
        "doc_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def simhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint: per token-hash bit, vote +1/−1 weighted by
    term frequency; fingerprint bit = sign of the vote sum.

    One explode + one groupBy(doc) — the aggregation is 32 conditional
    sums, all codegen'd. Output: (doc_id, simhash)."""
    tok = ensure_map_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    ).select(
        "doc_id",
        F.explode(words(F.col("__text"))).alias("w"),
    ).select("doc_id", seeded_hash64(F.col("w"), "sim").alias("h"))
    # one SQL parse per bit vote and one for the fingerprint rebuild
    # (chained py4j Column calls cost a driver round trip per operator)
    votes = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return votes.select(
        "doc_id", F.expr(f"CAST(0 AS BIGINT) + {fp_sql}").alias("simhash")
    )


# --- banded hamming join -------------------------------------------------------
#
# Every hamming kernel below is one join, written once: melt each
# fingerprint into (band, bucket) rows (_band_melt), optionally drop
# oversized buckets (_bucket_cap), join on the bucket, keep a joined row
# only from the pair's first matching band (_first_band_sql) and verify
# the summed popcount (_hamming). A fingerprint is a list of BIGINT words
# of ``word_bits`` bits; band b reads bits [band_bits·(b mod bpw), …) of
# word b div bpw (bpw = word_bits // band_bits), so a band never
# straddles two words. The helpers validate nothing: the public entry
# points that validate do so before calling them. Each melt, cap and
# canonical-band test is one SQL parse — chained py4j Column calls cost
# a driver round trip per operator, seconds of pure build time at
# n_bands~11 × n_words~3.


def _band_sql(words: list[str], b: int, word_bits: int, band_bits: int) -> str:
    """SQL for band ``b`` of the fingerprint held in ``words``."""
    bpw = word_bits // band_bits
    return (
        f"(shiftright({words[b // bpw]}, {band_bits * (b % bpw)}) & "
        f"{(1 << band_bits) - 1})"
    )


def _band_melt(
    df: DataFrame, keep: list, words: list, word_bits: int, band_bits: int,
    n_bands: int,
) -> DataFrame:
    """``keep`` exploded to one row per (band, bucket) of the first
    ``n_bands`` bands of ``words``."""
    struct_arr = ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        f"{_band_sql(words, b, word_bits, band_bits)})"
        for b in range(n_bands)
    )
    return df.select(
        *keep, F.expr(f"explode(array({struct_arr}))").alias("bb")
    ).select(*keep, "bb.*")


def _bucket_cap(
    melted: DataFrame, gcols: list[str], max_bucket_size: int
) -> DataFrame:
    """The melted rows whose ([group,] band, bucket) key holds at most
    ``max_bucket_size`` rows, plus ``bv``: the per-(doc[, group]) bucket
    sizes in band order, which the bucket-aware canonical-band test
    reads. A degenerate population (boilerplate families,
    constant/black frames) collapses into one bucket with quadratic
    candidates; capped, an oversized bucket emits nothing and a pair
    survives iff one of its colliding bands is under the cap."""
    keys = [*gcols, "band", "bucket"]
    sizes = melted.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    with_bn = melted.join(sizes, keys)
    bv = with_bn.groupBy("doc_id", *gcols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("band", "__bn"))),
            lambda s: s["__bn"],
        ).alias("bv")
    )
    return with_bn.filter(F.col("__bn") <= max_bucket_size).join(
        bv, ["doc_id", *gcols]
    )


def _side(
    melted: DataFrame, id_as: str, suffix: str, gcols: list, words: list, *extra
) -> DataFrame:
    """One side of the bucket join: the id renamed to ``id_as`` and the
    words to ``w{i}{suffix}``, the names the canonical-band test and the
    hamming verify read."""
    renamed = [F.col(w).alias(f"w{i}{suffix}") for i, w in enumerate(words)]
    doc = F.col("doc_id").alias(id_as)
    return melted.select("band", "bucket", *gcols, doc, *renamed, *extra)


def _first_band_sql(
    n_words: int, word_bits: int, band_bits: int, n_bands: int,
    max_bucket_size: int | None,
) -> str:
    """Canonical-band predicate over a joined row: keep it only if NO
    EARLIER band also matches. A pair colliding in m bands would
    otherwise be emitted m times and need a distinct SHUFFLE over the
    (huge) near-dup output; both fingerprints are present, so this is a
    map-side bit test, each pair survives exactly once, and the distinct
    exchange disappears from the plan (pinned by test_round2_fixes).
    With a bucket cap an earlier band only counts if its bucket was kept
    (``bv``: a colliding pair shares the bucket, hence the size)."""
    wa = [f"w{i}a" for i in range(n_words)]
    wb = [f"w{i}b" for i in range(n_words)]
    fbo = "true"
    for j in range(n_bands):
        earlier = (
            f"((band > {j}) AND ({_band_sql(wa, j, word_bits, band_bits)} = "
            f"{_band_sql(wb, j, word_bits, band_bits)}))"
        )
        if max_bucket_size is not None:
            earlier = f"({earlier} AND (bv[{j}] <= {max_bucket_size}))"
        fbo = f"({fbo} AND (NOT {earlier}))"
    return fbo


def _hamming(n_words: int) -> Column:
    """The verify: Σᵢ bit_count(wᵢa xor wᵢb), as ``hamming``."""
    ham_sql = " + ".join(f"bit_count(w{i}a ^ w{i}b)" for i in range(n_words))
    return F.expr(f"CAST((0 + {ham_sql}) AS INT)").alias("hamming")


def _hamming_pairs(
    fingerprints: DataFrame,
    words: list[str],
    bands: tuple[int, int, int],
    *,
    max_hamming: int,
    gcols: list[str],
    max_bucket_size: int | None,
    persist_input: bool = True,
) -> DataFrame:
    """Self-join form over ``bands`` = (word_bits, band_bits, n_bands):
    (doc_a, doc_b, *gcols, hamming) for every doc_a < doc_b sharing a
    band (within the same ``gcols`` group) at hamming ≤ ``max_hamming``.
    Both sides read the same (capped) melt."""
    if persist_input:
        # both sides of the self-join read the same fingerprints instead
        # of recomputing their lineage twice
        fingerprints = tracked_persist(fingerprints)
    melted = _band_melt(fingerprints, ["doc_id", *gcols, *words], words, *bands)
    bv = []
    if max_bucket_size is not None:
        melted = _bucket_cap(melted, gcols, max_bucket_size)
        bv = ["bv"]  # read via the a side only (shared bucket ⇒ equal sizes)
    a = _side(melted, "doc_a", "a", gcols, words, *bv)
    b = _side(melted, "doc_b", "b", gcols, words)
    fbo = _first_band_sql(len(words), *bands, max_bucket_size)
    return (
        a.join(b, [*gcols, "band", "bucket"])
        .filter(F.expr(f"doc_a < doc_b AND {fbo}"))
        .select("doc_a", "doc_b", *gcols, _hamming(len(words)))
        .filter(F.col("hamming") <= max_hamming)
    )


def _hamming_matches(
    existing: DataFrame,
    new: DataFrame,
    words: list[str],
    bands: tuple[int, int, int],
    *,
    max_hamming: int,
    gcols: list[str],
    max_bucket_size: int | None,
) -> DataFrame:
    """Probe form over ``bands`` = (word_bits, band_bits, n_bands):
    (new_id, match_id, *gcols, hamming, match_in_new) for every NEW
    fingerprint against the index plus the batch itself, self excluded.
    No ``doc_a < doc_b`` cut: a verdict is per NEW doc, so a new-new
    pair appears in both directions. The cap measures occupancy on the
    index+batch union; the new side needs no filter of its own —
    dropping the oversized union rows empties the band's join output."""
    keep = ["doc_id", *gcols, *words]
    new = tracked_persist(new)
    union = existing.select(*keep, F.lit(False).alias("__new")).unionByName(
        new.select(*keep, F.lit(True).alias("__new"))
    )
    a = _side(_band_melt(new, keep, words, *bands), "new_id", "a", gcols, words)
    b = _band_melt(union, [*keep, "__new"], words, *bands)
    bv = []
    if max_bucket_size is not None:
        b = _bucket_cap(b, gcols, max_bucket_size)
        bv = ["bv"]
    in_new = F.col("__new").alias("match_in_new")
    b = _side(b, "match_id", "b", gcols, words, in_new, *bv)
    fbo = _first_band_sql(len(words), *bands, max_bucket_size)
    return (
        a.join(b, [*gcols, "band", "bucket"])
        .filter(F.expr(f"new_id != match_id AND {fbo}"))
        .select("new_id", "match_id", *gcols, _hamming(len(words)), "match_in_new")
        .filter(F.col("hamming") <= max_hamming)
    )


def _frame_majority(
    frame_rows: DataFrame, keys: list[str], min_frames: int
) -> DataFrame:
    """Entities matching on at least ``min_frames`` frame positions: the
    canonical-band test left one row per (pair, frame), so the majority
    is a plain count(1) per pair, no distinct shuffle."""
    return (
        frame_rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_frames_matched"))
        .filter(F.col("n_frames_matched") >= min_frames)
    )


def simhash_near_duplicates(
    fingerprints: DataFrame,
    *,
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded hamming join over (doc_id, simhash) fingerprints:
    candidates share at least one exact band of ``bits // band_bits``
    (probabilistic recall, standard LSH trade-off — unlike the
    multi-word kernels this entry point does NOT require more bands
    than ``max_hamming``), verified with bit_count(xor) ≤ max_hamming.

    Output: (doc_a, doc_b, hamming).

    ``max_bucket_size`` caps per-band bucket membership the same way
    ``minhash_near_duplicates`` does (oversized buckets — boilerplate
    families with quadratic pair counts — emit nothing; a pair survives
    iff one of its colliding bands is under the cap)."""
    return _hamming_pairs(
        fingerprints,
        ["simhash"],
        (bits, band_bits, bits // band_bits),
        max_hamming=max_hamming,
        gcols=[],
        max_bucket_size=max_bucket_size,
    )


def multiword_hamming_pairs(
    fingerprints: DataFrame,
    *,
    n_words: int,
    word_bits: int,
    band_bits: int,
    max_hamming: int = 4,
    bits: int | None = None,
    group_col: str | None = None,
    max_bucket_size: int | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Banded hamming join over MULTI-WORD fingerprints (doc_id, w0 ..
    w{n-1}) — the word-split form of :func:`simhash_near_duplicates`:
    one word for the 56-bit perceptual fingerprints, several past 63
    bits (e.g. the 72-bit grid=9 dHash, media.dhash_words packing).
    With several words ``band_bits`` must divide ``word_bits`` so every
    band lives inside one word: band b reads bits
    [band_bits·(b mod bpw), …) of word b div bpw. Wider bands are the
    bucket-saturation lever — 12-bit bands give 4096 buckets/band vs
    256 at 8 bits — while keeping the pigeonhole recall guarantee
    whenever n_bands > max_hamming (a qualifying pair always shares at
    least one clean band).

    ``bits`` is the fingerprint's real width (default: the full
    ``n_words·word_bits``). When the packing leaves the top of the last
    word as zero padding (say 60 bits in 2×36 words), any band lying
    ENTIRELY in padding would put every doc in bucket 0 and silently
    degenerate the banded join to all-pairs — those bands are skipped;
    only bands whose bit range intersects [0, bits) participate, on
    both the melt and the canonical-band test. The pigeonhole guarantee
    then needs the SURVIVING band count > max_hamming, which is checked.

    Candidates share an exact band; the verify is the full hamming
    distance Σᵢ bit_count(wᵢᵃ xor wᵢᵇ) ≤ max_hamming. Pairs colliding
    in several bands are emitted once via the canonical-band
    (no-earlier-band-matches) map-side test, so no distinct shuffle.
    Output: (doc_a, doc_b, hamming).

    ``group_col`` scopes the banding WITHIN a group: the join keys
    become (group, band, bucket) and the output carries the group —
    how :func:`framewise_multiword_hamming_pairs` matches video frames
    at the same position only. ``max_bucket_size`` caps per-(group,)
    (band, bucket) membership: a degenerate population (constant/black
    frames) collapses into one bucket and produces quadratic
    candidates at scale; with the cap, oversized buckets emit nothing
    and a pair survives iff one of its colliding bands is under the cap
    (the canonical-band test is bucket-aware, so a surviving pair is
    still emitted exactly once).

    ``persist_input=False`` skips the fingerprint cache — for callers
    whose input is already a cheap projection of a persisted frame
    (:func:`chunked_hamming_pairs` subsets: caching every chunk-pair
    filter would hold ~(C+1)× the corpus in storage concurrently)."""
    n_bands = _multiword_band_layout(
        n_words=n_words,
        word_bits=word_bits,
        band_bits=band_bits,
        bits=bits,
        max_hamming=max_hamming,
    )
    return _hamming_pairs(
        fingerprints,
        [f"w{i}" for i in range(n_words)],
        (word_bits, band_bits, n_bands),
        max_hamming=max_hamming,
        gcols=[group_col] if group_col is not None else [],
        max_bucket_size=max_bucket_size,
        persist_input=persist_input,
    )


def framewise_multiword_hamming_pairs(
    fingerprints: DataFrame,
    *,
    n_words: int,
    word_bits: int,
    band_bits: int,
    max_hamming: int = 4,
    min_frames: int = 2,
    bits: int | None = None,
    max_bucket_size: int | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Frame-majority near-dup join for MULTI-FINGERPRINT entities
    (videos as sets of per-frame hashes): input is one
    (doc_id, frame_idx, w0 .. w{n-1}) row per sampled frame — a single
    56-bit frame dHash is ``n_words=1, word_bits=56`` with the hash as
    ``w0``; two docs pair iff at least ``min_frames`` frame positions
    match at hamming ≤ ``max_hamming``. The per-(pair, frame) match set
    is exactly :func:`multiword_hamming_pairs` scoped within the frame
    position (``group_col="frame_idx"`` — banding keys (frame, band,
    bucket), so the tuner's occupancy bound applies per frame position,
    and the canonical-band test keeps one row per (pair, frame)); the
    majority count is then a plain count(1) per pair, no distinct
    shuffle. ``max_bucket_size`` passes through the degenerate-frame
    skew cap. Output: (doc_a, doc_b, n_frames_matched ≥ min_frames)."""
    if min_frames < 1:
        raise ValueError(f"min_frames must be >= 1, got {min_frames}")
    frame_pairs = multiword_hamming_pairs(
        fingerprints,
        n_words=n_words,
        word_bits=word_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        bits=bits,
        group_col="frame_idx",
        max_bucket_size=max_bucket_size,
        persist_input=persist_input,
    )
    return _frame_majority(frame_pairs, ["doc_a", "doc_b"], min_frames)


def framewise_hamming_matches(
    existing: DataFrame,
    new: DataFrame,
    *,
    bits: int,
    band_bits: int,
    max_hamming: int = 4,
    min_frames: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Probe NEW multi-fingerprint entities (videos: one ``bits``-bit
    hash per sampled frame) against a persisted per-frame fingerprint
    index PLUS the new batch itself — the incremental companion of
    :func:`framewise_multiword_hamming_pairs` (what
    :func:`multiword_hamming_matches` is to the single-entity pairs
    join). Both inputs are (doc_id, frame_idx, w0) rows; a candidate
    shares an exact band WITHIN the same frame position between a NEW
    clip and any index-or-batch clip (self excluded), the verify is the
    per-frame hamming ≤ ``max_hamming``, the canonical-band test keeps
    one row per (new_id, match_id, frame) with no distinct shuffle, and
    the frame-majority gate keeps ordered pairs matching on at least
    ``min_frames`` positions. No ``doc_a < doc_b`` cut: a verdict is
    per NEW clip, so a new-new family pair appears in both directions.
    Per-epoch work is (batch frame-bands) × (per-frame index bucket
    occupancy) — the index side carries only narrow (doc, frame, hash)
    BIGINT rows; payloads never enter.

    ``max_bucket_size`` is the degenerate-frame skew cap:
    constant/black frames accumulate in the persisted index across
    epochs, so without the cap each new batch's black frames join
    O(batch × full index) candidates. Occupancy is measured on the
    index+batch union per (frame, band, bucket); a frame match survives
    iff one of its colliding bands is under the cap.

    Output: (new_id, match_id, n_frames_matched, match_in_new)."""
    n_bands = _multiword_band_layout(
        n_words=1,
        word_bits=bits,
        band_bits=band_bits,
        bits=bits,
        max_hamming=max_hamming,
    )
    if min_frames < 1:
        raise ValueError(f"min_frames must be >= 1, got {min_frames}")
    frame_matches = _hamming_matches(
        existing,
        new,
        ["w0"],
        (bits, band_bits, n_bands),
        max_hamming=max_hamming,
        gcols=["frame_idx"],
        max_bucket_size=max_bucket_size,
    )
    return _frame_majority(
        frame_matches, ["new_id", "match_id", "match_in_new"], min_frames
    ).select("new_id", "match_id", "n_frames_matched", "match_in_new")


def multiword_hamming_matches(
    existing: DataFrame,
    new: DataFrame,
    *,
    n_words: int,
    word_bits: int,
    band_bits: int,
    max_hamming: int = 4,
    bits: int | None = None,
) -> DataFrame:
    """Probe NEW multi-word fingerprints against a persisted index PLUS
    the new batch itself — the incremental companion of
    :func:`multiword_hamming_pairs` (mirrors what
    ``incremental_near_duplicates`` is to ``minhash_near_duplicates``).
    Both inputs are (doc_id, w0 .. w{n-1}); candidates share an exact
    band between a NEW fingerprint and any index-or-batch fingerprint
    (self excluded), the verify is the full summed-xor hamming, and the
    canonical-band (no-earlier-band-matches) test keeps one row per
    ordered (new_id, match_id) with no distinct shuffle. Unlike the
    batch join there is NO ``doc_a < doc_b`` cut: a verdict is per NEW
    doc, so a new-new family pair appears in both directions (each
    member sees its mate). Per-epoch work is (batch bands) × (index
    bucket occupancy) — the index side carries only narrow
    ``1 + n_words`` BIGINT rows.

    ``bits`` is the fingerprint's real width, exactly as in
    :func:`multiword_hamming_pairs`: bands lying entirely in zero
    padding (constant bucket 0) are skipped on both the melt and the
    canonical-band test — otherwise a padded fingerprint would put
    every doc in one bucket for those bands and silently degenerate the
    probe toward all-pairs — and the pigeonhole check binds on the
    SURVIVING band count.

    Output: (new_id, match_id, hamming, match_in_new)."""
    n_bands = _multiword_band_layout(
        n_words=n_words,
        word_bits=word_bits,
        band_bits=band_bits,
        bits=bits,
        max_hamming=max_hamming,
    )
    return _hamming_matches(
        existing,
        new,
        [f"w{i}" for i in range(n_words)],
        (word_bits, band_bits, n_bands),
        max_hamming=max_hamming,
        gcols=[],
        max_bucket_size=None,
    )


def cross_doc_span_stats(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
):
    """Cross-document duplicated-span statistics — the signal behind
    substring-level exact dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a span that occurs in
    more than one document is boilerplate/copy candidate; documents
    dominated by such spans get cut or trimmed.

    Per document (BIGINTs): ``n_spans`` (overlapping ``span_words``-word
    windows) and ``cross_dup_spans`` (positions whose span text occurs in
    ≥2 DISTINCT documents).

    Plan shape: one explode → one span-keyed ``countDistinct(doc)``
    groupBy (partial-aggregated; the heavy stage, keyed on span text
    exactly like an inverted-index build) → join the per-span doc counts
    back to the span stream → per-doc conditional count. At 100 TB this
    is two shuffles over ≈ token-count rows — the same cost class as the
    MinHash signature build, and embarrassingly partitionable.

    The span stream feeds BOTH sides of the self-join (the per-span agg
    and the join-back), so it is persisted once: without it the explode
    (tokenize + shingle the whole corpus) evaluates twice (VERDICT r3
    Next #7). On a cluster with exchange reuse this mostly overlaps; on
    a single node it halves the dominant cost.
    """
    from pyspark.sql import functions as F

    from openstack_billing_from_db_spark.operators.caching import tracked_persist
    from openstack_billing_from_db_spark.operators.text import words, word_shingles

    spans = tracked_persist(
        docs.select(
            F.col(id_col),
            F.explode(word_shingles(words(F.col(text_col)), span_words)).alias("span"),
        )
    )
    span_docs = spans.groupBy("span").agg(
        F.countDistinct(id_col).alias("n_docs_with_span")
    )
    per_doc = (
        spans.join(span_docs, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("n_docs_with_span") > 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("cross_dup_spans"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("cross_dup_spans"), F.lit(0))
            .cast("long")
            .alias("cross_dup_spans"),
        )
    )


# --- incremental near-dup dedup against a signature index --------------------


def minhash_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """The persisted dedup index for a GROWING corpus: one row per
    (doc, band) carrying the band bucket key and the full minhash
    signature — ``(id, sig array<bigint>, band bigint, band_sig string)``.

    This is what survives between daily batches at 100 TB: raw text is
    never re-read to dedup an incremental batch, only this narrow
    (num_hashes longs + one md5 per row) table, ideally written
    partitioned/bucketed by ``band_sig``. Building it is pure map-side
    (shingle → base-hash → affine minhash per row, no explode, no
    shuffle)."""
    assert num_hashes % rows_per_band == 0
    n_bands = num_hashes // rows_per_band
    base = ensure_map_parallelism(docs.select(id_col, text_col))
    sig = (
        base.select(
            id_col,
            F.expr(
                _shingle_hashes_sql(
                    _word_shingles_sql(_words_sql(text_col), shingle_n)
                )
            ).alias("h"),
        )
        .filter(F.size("h") > 0)
        .select(
            id_col,
            *[
                F.expr(s).alias(f"mh{j}")
                for j, s in enumerate(_minhash_signature_sql("h", num_hashes))
            ],
        )
        .select(
            id_col,
            F.expr(
                "array(" + ", ".join(f"mh{j}" for j in range(num_hashes)) + ")"
            ).alias("sig"),
            *[
                F.expr(s).alias(f"band{b}")
                for b, s in enumerate(
                    _minhash_band_sql(num_hashes, rows_per_band)
                )
            ],
        )
    )
    struct_arr = ", ".join(
        f"named_struct('band', CAST({b} AS BIGINT), 'band_sig', band{b})"
        for b in range(n_bands)
    )
    return sig.select(
        id_col, "sig", F.expr(f"explode(array({struct_arr}))").alias("bb")
    ).select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig"))


# packing base for the (n_agree, match_id) argmax: match ids must be
# < _MATCH_PACK for the decode to be exact
_MATCH_PACK = 1_000_000_000_000


def incremental_near_duplicates(
    index: DataFrame,
    new_index: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    min_agree: int = 6,
) -> DataFrame:
    """Dedup an incremental batch against an existing corpus WITHOUT
    re-mining the corpus: join the new batch's band rows against the
    stored index (plus the batch itself — a daily batch arrives as a
    unit) on ``(band, band_sig)``, score each candidate by minhash
    signature agreement, and keep the best match per new doc.

    Scale shape: the join keys are band buckets (the same banded-LSH
    narrowing as full-corpus dedup), rows carry only ``num_hashes``
    longs, and multi-band duplicate candidates collapse in the packed
    argmax aggregation — no pair-distinct exchange. The verify is
    signature agreement (est_jaccard = n_agree/num_hashes), the standard
    index-resident verify when raw text isn't retained; false-positive
    rate decays exponentially in ``min_agree``.

    Output: one row per new doc that has a signature —
    ``(new_id, match_id, n_agree, est_jaccard, is_dup)`` with NULL match
    columns when no candidate collided.
    """
    others = index.unionByName(new_index)
    n = new_index.alias("n")
    o = others.alias("o")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("n.sig"), F.col("o.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    packed = (
        agree * F.lit(_MATCH_PACK)
        + (F.lit(_MATCH_PACK - 1) - F.col(f"o.{id_col}"))
    ).alias("packed")
    cands = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_sig") == F.col("o.band_sig"))
            & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
        )
        .select(F.col(f"n.{id_col}").alias("new_id"), packed)
        .groupBy("new_id")
        .agg(F.max("packed").alias("packed"))
    )
    new_docs = new_index.select(F.col(id_col).alias("new_id")).distinct()
    n_agree = F.expr(f"packed div {_MATCH_PACK}L")
    return new_docs.join(cands, "new_id", "left").select(
        "new_id",
        (F.lit(_MATCH_PACK - 1) - F.col("packed") % _MATCH_PACK).alias("match_id"),
        n_agree.alias("n_agree"),
        (n_agree.cast("double") / num_hashes).alias("est_jaccard"),
        F.coalesce(n_agree >= min_agree, F.lit(False)).alias("is_dup"),
    )


def merge_index(
    index: DataFrame,
    new_index: DataFrame,
    verdicts: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a deduplicated batch into the persisted signature index:
    the old index survives untouched; only band rows of batch docs that
    were NOT judged duplicates (``incremental_near_duplicates`` output)
    are appended. Duplicate docs never enter the index, so later
    batches always match the canonical survivor instead of walking a
    chain of near-dups — and the index growth rate is the UNIQUE-doc
    rate, not the ingest rate. One narrow left-semi join; at 100 TB
    this is the daily index-maintenance job."""
    keep = verdicts.filter(~F.col("is_dup")).select(
        F.col("new_id").alias(id_col)
    )
    return index.unionByName(new_index.join(keep, id_col, "left_semi"))


def tune_banding(
    target_jaccard: float,
    *,
    max_hashes: int = 128,
    min_catch_at_target: float = 0.9,
    max_catch_below: float = 0.2,
    below_ratio: float = 0.5,
) -> tuple[int, int]:
    """Pick (num_hashes, rows_per_band) for a Jaccard threshold from the
    LSH S-curve: with b bands of r rows, a pair with similarity s
    collides in ≥1 band with probability ``1 − (1 − s^r)^b``. The tuner
    returns the cheapest (fewest hashes) configuration that catches
    pairs AT the target with probability ≥ ``min_catch_at_target``
    while catching clearly-dissimilar pairs (at ``below_ratio × target``)
    with probability ≤ ``max_catch_below`` — i.e. recall at the
    threshold without drowning the verify stage in false candidates.

    This closes the loop the fixed (num_hashes=8, rows_per_band=2)
    default leaves open: at a 0.9 near-dup threshold the default is
    fine, but a 0.5 fuzzy-dup sweep needs wider bands or it misses half
    the true pairs — the S-curve is the public, checkable way to size
    that (Leskovec, Rajaraman & Ullman, "Mining of Massive Datasets"
    §3.4). Raises if no configuration within ``max_hashes`` satisfies
    both constraints (loosen one, or raise the budget).
    """
    if not 0 < target_jaccard < 1:
        raise ValueError(f"target_jaccard must be in (0,1), got {target_jaccard}")
    s_lo = target_jaccard * below_ratio
    best: tuple[int, int] | None = None
    for total in range(2, max_hashes + 1):
        for r in range(1, total + 1):
            if total % r:
                continue
            b = total // r
            p_hit = 1.0 - (1.0 - target_jaccard**r) ** b
            p_noise = 1.0 - (1.0 - s_lo**r) ** b
            if p_hit >= min_catch_at_target and p_noise <= max_catch_below:
                best = (total, r)
                break
        if best:
            break
    if best is None:
        raise ValueError(
            f"no (hashes ≤ {max_hashes}) banding catches ≥"
            f"{min_catch_at_target} at s={target_jaccard} with ≤"
            f"{max_catch_below} at s={s_lo}; loosen a constraint"
        )
    return best


def tune_hamming_band_bits(
    n_docs: int,
    *,
    bits: int,
    word_bits: int | None = None,
    max_hamming: int = 4,
    max_mean_bucket: int = 128,
) -> int:
    """Pick ``band_bits`` for a banded hamming join from the corpus size —
    the hamming-space counterpart of :func:`tune_banding`'s Jaccard
    S-curve contract (refuse or widen instead of silently saturating).

    ``max_mean_bucket`` = 128 is empirically anchored: q142's 12-bit
    banding measured 4.2× wall at 100× data on 500k uniformly-hashed
    images — occupancy ≈ 122/bucket — while q141's 8-bit banding at
    ~2000/bucket measured 63× (the saturation this bound exists to
    refuse).

    Returns the WIDEST band width that still pigeonhole-covers the
    hamming budget (``bits // band_bits`` bands must exceed
    ``max_hamming`` so a qualifying pair always shares one clean band)
    subject to expected uniform bucket occupancy staying workable:
    ``n_docs / 2**band_bits ≤ max_mean_bucket``. Widest wins because
    buckets grow exponentially with width (4096 at 12 bits vs 256 at 8)
    while per-band candidate work shrinks by the same factor — the
    saturation q141's 56-bit/8-bit banding measured at 63× wall on a
    500k-image sweep is exactly the occupancy this constraint bounds.

    ``word_bits`` (the multi-word path) additionally requires
    ``band_bits`` to divide the word so a band never straddles words
    (:func:`multiword_hamming_pairs`' contract) — unless the fingerprint
    fits one word (``bits <= word_bits``), where no band can straddle
    (:func:`_multiword_band_layout`'s one-word rule).

    Raises ValueError when even the widest admissible band saturates —
    the caller must move to a wider fingerprint (more bits/words, e.g.
    grid=8 dHash → grid=9 two-word) or shard the corpus; returning a
    saturating width would hide an O(n²/buckets) blow-up."""
    if n_docs < 0:
        raise ValueError(f"n_docs must be >= 0, got {n_docs}")
    widest = bits // (max_hamming + 1)
    for bb in range(min(widest, 62), 0, -1):
        if word_bits is not None and bits > word_bits and word_bits % bb:
            continue
        if n_docs <= max_mean_bucket * (1 << bb):
            return bb
    raise ValueError(
        f"no band width over a {bits}-bit fingerprint keeps "
        f"{max_hamming + 1}-band pigeonhole recall with expected bucket "
        f"occupancy <= {max_mean_bucket} at n_docs={n_docs}; widen the "
        "fingerprint (more bits/words) or shard the corpus"
    )


def tune_hamming_chunks(
    n_docs: int,
    *,
    bits: int,
    word_bits: int | None = None,
    max_hamming: int = 4,
    max_mean_bucket: int = 128,
    max_chunks: int = 32,
) -> tuple[int, int]:
    """Chunk count + band width for :func:`chunked_hamming_pairs` past
    the single-join tuner ceiling: the smallest C whose worst per-join
    corpus (a cross-chunk pair holds ≈ ⌈2·n/C⌉ docs under uniform hash
    chunking) passes :func:`tune_hamming_band_bits`. Returns
    (n_chunks, band_bits). C(C+1)/2 joins trade bounded per-join
    occupancy for more joins — total candidate work stays the banded
    O(n²/buckets) split into memory-bounded pieces, which is the point:
    the refusal regime becomes runnable, not cheap. Raises past
    ``max_chunks`` — 32 bounds the union plan at 528 joins, which
    Catalyst still analyzes comfortably (the 1M-doc probe's 10-join
    plan compiled in seconds; a C=256 plan would hold 32,896 joins),
    and covers ≈ max_mean_bucket·2^band_bits·max_chunks/2 ≈ 8.4M docs
    at the 72-bit defaults — past that a wider fingerprint, not more
    chunks, is the answer."""
    if n_docs < 0:
        raise ValueError(f"n_docs must be >= 0, got {n_docs}")
    c = 1
    while c <= max_chunks:
        per_join = n_docs if c == 1 else -(-2 * n_docs // c)
        try:
            bb = tune_hamming_band_bits(
                per_join,
                bits=bits,
                word_bits=word_bits,
                max_hamming=max_hamming,
                max_mean_bucket=max_mean_bucket,
            )
            return c, bb
        except ValueError:
            c += 1
    raise ValueError(
        f"chunked banding needs more than max_chunks={max_chunks} chunks "
        f"at n_docs={n_docs} over a {bits}-bit fingerprint; widen the "
        "fingerprint instead"
    )


def chunked_hamming_pairs(
    fingerprints: DataFrame,
    pairs_fn,
    *,
    n_chunks: int,
) -> DataFrame:
    """Sharding escalation for banded hamming joins past the tuner's
    occupancy ceiling (VERDICT r10 Next #5): hash-partition the corpus
    into ``n_chunks`` id-keyed chunks and run ``pairs_fn`` (any of the
    banded pair kernels — it receives a fingerprint subset and must
    return (doc_a, doc_b, …) rows) over each of the C(C+1)/2 chunk
    pairs. Each join sees ≤ ≈2n/C docs, so the per-join banding can be
    tuned where the full corpus refuses; recall is EXACT (a qualifying
    pair's two chunks form exactly one chunk pair), and each pair is
    emitted exactly once because join (i ≤ j) keeps only pairs whose
    recomputed chunk ids are {i, j} — membership is a pure function of
    the doc id (seeded md5 hash), never carried state.

    With a ``max_bucket_size`` cap inside ``pairs_fn`` the cap applies
    per chunk-pair join (occupancy is per-join, so chunked output is a
    SUPERSET of the capped single-pass at the margin); the exact-recall
    equivalence pin uses uncapped kernels. All frames/words of a doc
    hash to the same chunk (chunking keys the DOC id), so multi-row
    fingerprints (framewise) chunk coherently.

    Storage contract: THIS function persists the fingerprint base once
    (n_chunks=1: the raw frame; otherwise the chunk-tagged frame), and
    ``pairs_fn`` should skip its own input persist
    (``persist_input=False`` on the banded kernels) — chunk subsets
    are cheap filters of the cached base, and caching every chunk-pair
    projection would hold ~(C+1)× the corpus in storage at once."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    if n_chunks == 1:
        return pairs_fn(tracked_persist(fingerprints))

    def chunk_of(col: Column) -> Column:
        return F.pmod(
            seeded_hash64(col.cast("string"), "hchunk"), F.lit(n_chunks)
        )

    base = tracked_persist(
        fingerprints.withColumn("__chunk", chunk_of(F.col("doc_id")))
    )
    outs: list[DataFrame] = []
    for i in range(n_chunks):
        for j in range(i, n_chunks):
            subset = base.filter(
                F.col("__chunk") == i
                if i == j
                else F.col("__chunk").isin(i, j)
            ).drop("__chunk")
            pairs = pairs_fn(subset)
            ca, cb = chunk_of(F.col("doc_a")), chunk_of(F.col("doc_b"))
            keep = (
                (ca == i) & (cb == i)
                if i == j
                else ((ca == i) & (cb == j)) | ((ca == j) & (cb == i))
            )
            outs.append(pairs.filter(keep))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def edit_distance_near_duplicates(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 16,
    len_bucket: int = 32,
    max_block: int = 64,
    cap_chars: int = 96,
    max_distance: int = 8,
    block_on: str = "prefix",
    block_keep_bp: int | None = None,
    block_seed: str = "editblocks",
):
    """Blocked edit-distance near-duplicate pairs — the string-metric
    member of the dedup family (exact q34 / MinHash q35 / SimHash q37 /
    embedding q40): catches single-character-edit families that token
    shingles dilute. Classic record-linkage blocking keeps it off the
    doc×doc product:

    - block key = (normalized-``block_on``[:prefix_len], length div
      len_bucket) — a pair must agree on both to be compared;
    - blocks larger than ``max_block`` are dropped whole (boilerplate
      guard — the same cap law as the LSH bucket and q116 df caps);
    - the Levenshtein comparison runs on the first ``cap_chars``
      normalized chars, bounding per-pair cost at cap_chars².

    Output: (doc_a, doc_b, edit_distance) for pairs with distance ≤
    ``max_distance``. Engine-exact: normalization is the shared q33
    chain and Levenshtein is unit-cost in both engines — pure integers.

    Scale shape: one map-side normalize+key projection, a block-keyed
    self-join bounded by max_block² pairs per block, zero Python. The
    prefix misses pairs whose FIRST edit sits inside the prefix — the
    standard multi-pass mitigation is ``block_on='suffix'`` (same
    operator, last-``prefix_len``-chars key), unioned by
    :func:`edit_distance_near_duplicates_two_pass`.

    ``block_keep_bp`` (basis points of 10000) evaluates only a
    deterministic seeded-hash sample of the BLOCK universe — the q116
    bounding recipe for evaluation queries: Levenshtein-per-pair is the
    costliest verify in the dedup family, and on a pathological corpus
    where every block is full the full sweep is cap²·|blocks| distance
    computations; sampling blocks (never individual docs — a sampled
    block still sees ALL its members, so every emitted pair is a true
    pair, just from a subset of blocks) bounds the work at any corpus
    size. None (default) = evaluate every block."""
    if block_on not in ("prefix", "suffix"):
        raise ValueError(f"block_on must be 'prefix' or 'suffix'; got {block_on!r}")
    base = _edit_normalized_base(
        docs,
        id_col=id_col,
        text_col=text_col,
        cap_chars=cap_chars,
        prefix_len=prefix_len,
        len_bucket=len_bucket,
        keys=(block_on,),
    )
    if block_keep_bp is not None:
        from openstack_billing_from_db_spark.functions.hashing import (
            seeded_hash64,
        )

        if not 0 < block_keep_bp <= 10000:
            raise ValueError(
                f"block_keep_bp must be in (0, 10000]; got {block_keep_bp}"
            )
        # NULL-propagating concat (not concat_ws) so a NULL key hashes
        # NULL and drops the row — matching SQL `||` in the oracle
        gate_key = F.concat(
            F.col(f"k_{block_on}"), F.lit("|"), F.col("lenb").cast("string")
        )
        base = base.filter(
            seeded_hash64(gate_key, block_seed) % 10000 < block_keep_bp
        )
    return _edit_blocked_pairs(
        base, f"k_{block_on}", max_block=max_block, max_distance=max_distance
    )


def _edit_normalized_base(
    docs, *, id_col, text_col, cap_chars, prefix_len, len_bucket, keys
):
    """One persisted (did, capped, lenb, k_<key>...) projection — the
    normalize regex chain feeds the block-count aggregation AND both
    sides of the self-join of EVERY pass, so it runs once, not once per
    consumer."""
    from openstack_billing_from_db_spark.operators.caching import tracked_persist
    from openstack_billing_from_db_spark.operators.text import normalize

    key_cols = []
    if "prefix" in keys:
        key_cols.append(F.substring("norm", 1, prefix_len).alias("k_prefix"))
    if "suffix" in keys:
        key_cols.append(F.expr(f"right(norm, {prefix_len})").alias("k_suffix"))
    return tracked_persist(
        docs.select(
            F.col(id_col).alias("did"),
            normalize(F.col(text_col)).alias("norm"),
        ).select(
            "did",
            F.substring("norm", 1, cap_chars).alias("capped"),
            F.expr(f"length(norm) div {len_bucket}").alias("lenb"),
            *key_cols,
        )
    )


def _edit_blocked_pairs(base, key_col, *, max_block, max_distance):
    from openstack_billing_from_db_spark.operators.caching import tracked_persist

    small_blocks = (
        base.groupBy(key_col, "lenb")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_block)
        .select(key_col, "lenb")
    )
    keyed = tracked_persist(base.join(small_blocks, [key_col, "lenb"], "left_semi"))
    pairs = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
            & (F.col("a.lenb") == F.col("b.lenb"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(
            F.col("a.did").alias("doc_a"),
            F.col("b.did").alias("doc_b"),
            F.levenshtein(F.col("a.capped"), F.col("b.capped")).alias(
                "edit_distance"
            ),
        )
    )
    return pairs.filter(F.col("edit_distance") <= max_distance).select(
        "doc_a", "doc_b", F.col("edit_distance").cast("long").alias("edit_distance")
    )


def edit_distance_near_duplicates_two_pass(docs, **kwargs) -> DataFrame:
    """The standard multi-pass blocking mitigation: a prefix-keyed pass
    misses pairs whose FIRST edit falls inside the prefix key; the
    suffix-keyed pass misses pairs whose LAST edit falls inside the
    suffix key; the union catches a pair unless it has edits in BOTH
    its first and last ``prefix_len`` chars, OR its lengths straddle a
    ``len_bucket`` boundary (both passes share the length-bucket key) —
    the classic recall/cost trade of record-linkage blocking; push
    recall further with more key passes or a coarser len_bucket.
    Both passes read ONE shared persisted normalize projection; each
    pair is reported once (per-pair distance is identical across
    passes, so dropDuplicates on the full row is exact; the dedup
    exchange is output-sized)."""
    if "block_on" in kwargs:
        raise ValueError("two_pass picks block_on itself")
    max_block = kwargs.pop("max_block", 64)
    max_distance = kwargs.pop("max_distance", 8)
    base = _edit_normalized_base(
        docs,
        id_col=kwargs.pop("id_col", "doc_id"),
        text_col=kwargs.pop("text_col", "text"),
        cap_chars=kwargs.pop("cap_chars", 96),
        prefix_len=kwargs.pop("prefix_len", 16),
        len_bucket=kwargs.pop("len_bucket", 32),
        keys=("prefix", "suffix"),
    )
    if kwargs:
        raise TypeError(f"unexpected arguments: {sorted(kwargs)}")
    return (
        _edit_blocked_pairs(
            base, "k_prefix", max_block=max_block, max_distance=max_distance
        )
        .unionByName(
            _edit_blocked_pairs(
                base, "k_suffix", max_block=max_block, max_distance=max_distance
            )
        )
        .dropDuplicates(["doc_a", "doc_b", "edit_distance"])
    )


def set_similarity_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_bp: int = 6000,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08),
    the scale path when the pipeline needs *guaranteed* exact near-dup
    pairs rather than MinHash-LSH's probabilistic candidates (q35).

    Pruning is lossless for Jaccard ≥ t = threshold_bp/10000:

    - order each document's distinct shingle set by ascending document
      frequency (rarest first) under one global total order (df, shingle);
    - its *prefix* is the first ``n − ceil(t·n) + 1`` tokens. J(a,b) ≥ t
      implies ``|a∩b| ≥ t·max(na,nb)`` (since nb ≥ |a∩b|), so the
      globally-smallest common token cannot sit past either prefix — any
      qualifying pair shares a token in BOTH prefixes;
    - pairs must also pass the length filter ``t ≤ na/nb ≤ 1/t``
      (implied by J ≥ t), applied as integer arithmetic in the join.

    Scale shape (100 TB): prefix tokens are by construction the RAREST
    tokens of each document, so the candidate join's buckets are the
    small tail of the df distribution — the skew that kills a naive
    token self-join (df² pairs on boilerplate) is exactly what the
    prefix excludes whenever a document has ≥ ceil(t·n) rarer tokens.
    Verification reuses the narrow exploded (pair, shingle) intersection
    join — no shingle array crosses a shuffle. The threshold compare is
    pure-integer (``i·10000 ≥ tb·(na+nb−i)``) so both engines pick
    identical rows; only the reported jaccard is a final double divide.

    Documents with IDENTICAL shingle sets are collapsed to one
    representative before the join (map-side md5 set signature) and
    member pairs are expanded afterwards — semantics-preserving, and on
    a corpus with duplication factor d it cuts candidate/verify work by
    d². The output itself is Θ(true pairs) for ANY exact algorithm:
    on a d-times near-duplicated corpus wall is output-bound by design
    (the pipeline answer to that corpus is to exact-dedup first — q34 —
    or to accept q35's probabilistic candidates).

    Output: (doc_a, doc_b, jaccard) for all pairs with exact Jaccard of
    distinct word-``shingle_n``-shingle sets ≥ t.

    Beyond-reference (reference has no similarity operators); part of
    the dedup family alongside exact/MinHash/SimHash/embedding/edit.
    """
    tb = int(threshold_bp)
    if not 0 < tb <= 10000:
        raise ValueError(f"threshold_bp must be in (0, 10000]; got {tb}")

    # EXACT-SET COLLAPSE (semantics-preserving): documents with identical
    # shingle sets are interchangeable for Jaccard, so the join runs on
    # one representative per distinct set and member pairs are expanded
    # afterwards. On a corpus with duplication factor d this cuts the
    # quadratic candidate/verify work by d² while the output (which is
    # Θ(true pairs) for ANY exact algorithm) is produced by a plain
    # linear expansion join. sig is one map-side md5 over the sorted
    # set in NETSTRING encoding (each element length-prefixed) —
    # injective up to md5 collision with no per-element hashing; a raw
    # separator-joined concat would collapse distinct sets whose tokens
    # contain the separator byte.
    base = tracked_persist(
        ensure_map_parallelism(docs)
        .select(
            F.col(id_col).alias("did"),
            F.array_distinct(word_shingles(words(F.col(text_col)), shingle_n)).alias(
                "shset"
            ),
        )
        .filter(F.size("shset") > 0)
        .select(
            "did",
            "shset",
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.sort_array("shset"),
                        lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s),
                    ),
                )
            ).alias("sig"),
        )
    )
    # eager fill: the shingle+md5 chain above is the most expensive
    # map work in the operator, and FIVE downstream tables (groups,
    # mem, rep_docs, sz, ps) hang off it — most of them small enough
    # that Spark plans them as broadcast exchanges, whose subtrees
    # execute CONCURRENTLY in the exchange thread pool. Concurrent
    # first readers of a lazy persist don't wait for each other: the
    # q123 profile showed four ~12-17 s-run jobs each re-scanning the
    # documents parquet and re-computing this chain before any fill
    # completed. One blocking count() fills the cache exactly once;
    # every broadcast subtree then reads memory.
    base.count()
    groups = tracked_persist(
        base.groupBy("sig").agg(F.min("did").alias("rep"))
    )
    # membership (rep, did) for the final expansion
    mem = base.select("sig", "did").join(groups, "sig").select("rep", "did")
    # representatives only, sizes taken map-side from the persisted array
    rep_docs = base.join(
        groups.select(F.col("rep").alias("did")), "did", "left_semi"
    )
    sz = rep_docs.select("did", F.size("shset").cast("long").alias("n"))
    # one distinct (rep, shingle) row per set element of each DISTINCT
    # set — array_distinct is map-side, so ps needs no dedup shuffle;
    # persisted because it feeds document frequencies, the ordered-prefix
    # build AND the verify intersection
    ps = tracked_persist(
        rep_docs.select("did", F.explode("shset").alias("shingle"))
    )
    dfreq = ps.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    # per-doc token list sorted by the global (df, shingle) order; prefix
    # length p = n − ceil(t·n) + 1 with exact integer ceil. Persisted:
    # BOTH sides of the candidate self-join read it, and Spark does not
    # reuse the collect_list aggregation subtree across the join's
    # aliases (no ReusedExchange in the plan — the whole df-join +
    # sort-aggregate chain ran twice, two of the four repeated ~1.3 s
    # jobs in the q123 profile).
    pref = tracked_persist(
        ps.join(dfreq, "shingle")
        .groupBy("did")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "shingle"))).alias("ord"))
        .select(
            "did",
            F.size("ord").alias("n"),
            F.expr(
                f"slice(ord.shingle, 1, "
                f"size(ord) - (({tb} * size(ord) + 9999) div 10000) + 1)"
            ).alias("pfx"),
        )
        .select("did", "n", F.explode("pfx").alias("tok"))
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.did") < F.col("b.did"))
            # length filter t ≤ na/nb ≤ 1/t, integer-exact
            & (F.col("a.n") * 10000 >= F.col("b.n") * tb)
            & (F.col("b.n") * 10000 >= F.col("a.n") * tb),
        )
        # a pair sharing k prefix tokens arrives k times; partial
        # map-side combine collapses them before the exchange
        .groupBy(
            F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("_npref"))
        .select("doc_a", "doc_b")
    )
    inter = (
        cand.join(ps.alias("pa"), F.col("doc_a") == F.col("pa.did"))
        .join(
            ps.alias("pb"),
            (F.col("doc_b") == F.col("pb.did"))
            & (F.col("pb.shingle") == F.col("pa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    rep_pairs = (
        inter.join(sz.alias("sa"), F.col("doc_a") == F.col("sa.did"))
        .join(sz.alias("sb"), F.col("doc_b") == F.col("sb.did"))
        .filter(
            F.col("i") * 10000
            >= tb * (F.col("sa.n") + F.col("sb.n") - F.col("i"))
        )
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            (
                F.col("i").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
            ).alias("jaccard"),
        )
    )
    # expansion: every member pair across the two groups shares the
    # representatives' jaccard (identical sets); plain output-sized joins
    across = (
        rep_pairs.join(mem.alias("ma"), F.col("rep_a") == F.col("ma.rep"))
        .join(mem.alias("mb"), F.col("rep_b") == F.col("mb.rep"))
        .select(
            F.least(F.col("ma.did"), F.col("mb.did")).alias("doc_a"),
            F.greatest(F.col("ma.did"), F.col("mb.did")).alias("doc_b"),
            "jaccard",
        )
    )
    # intra-group: identical non-empty sets are exact Jaccard-1.0 pairs
    # (≥ any threshold); C(cnt, 2) rows per duplicated content
    within = (
        mem.alias("wa")
        .join(
            mem.alias("wb"),
            (F.col("wa.rep") == F.col("wb.rep"))
            & (F.col("wa.did") < F.col("wb.did")),
        )
        .select(
            F.col("wa.did").alias("doc_a"),
            F.col("wb.did").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return across.unionByName(within)


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality_micro",
) -> DataFrame:
    """Quality-canonical survivor per near-dup cluster: keep the member
    with the HIGHEST score (ties → lowest id) instead of the lowest id
    (q87's rule) — the curation variant where dedup is also a quality
    upgrade (NeMo-Curator-style "keep best"). ``clusters`` is the
    (id, cluster_id) table from graph.dedup_clusters; ``scores`` maps
    id → an INTEGER score (e.g. text.quality_score_micro — a float
    score would make the argmax engine-dependent at ties).

    Plan shape: one equi-join on id, then ONE partial-aggregable
    groupBy — the argmax is min(struct(-score, id)), which combines
    map-side, so no per-cluster window sort and a single exchange on
    cluster_id. Output: (cluster_id, kept_doc_id, kept_score, n_docs).
    """
    joined = clusters.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        scores.select(
            F.col(id_col).alias("__id"), F.col(score_col).alias("__s")
        ),
        "__id",
    )
    best = joined.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                (-F.col("__s")).alias("ns"), F.col("__id").alias("id")
            )
        ).alias("b"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return best.select(
        "cluster_id",
        F.col("b.id").alias("kept_doc_id"),
        (-F.col("b.ns")).cast("long").alias("kept_score"),
        "n_docs",
    )
