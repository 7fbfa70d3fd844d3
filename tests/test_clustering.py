"""Unit tests for operators/clustering.kmeans_assign and
operators/text.repetition_stats beyond the oracle-parity sweep:
degenerate inputs and invariants the sf-data queries never hit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.operators.clustering import (
    _round_half_up,
    kmeans_assign,
)
from openstack_billing_from_db_spark.operators.text import repetition_stats


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )


def test_kmeans_separated_clusters(spark):
    # two tight blobs far apart; k=2 seeded from vec_id 0 (blob A) and 1 (blob B)
    blob_a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1]]
    blob_b = [[10.0, 10.0], [10.1, 10.0], [10.0, 10.1], [10.1, 10.1]]
    rows = [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:]
    out = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(_emb(spark, rows), k=2, n_iter=2).collect()
    }
    a_ids = {0, 2, 3, 4}
    b_ids = {1, 5, 6, 7}
    assert {out[i] for i in a_ids} == {0}
    assert {out[i] for i in b_ids} == {1}


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # seed 1 (vec_id 1) is strictly farther from every point than seed 0,
    # so cluster 1 is empty after iteration 1 — the operator must keep its
    # centroid (not crash / not divide by zero) and stay empty.
    rows = [[0.0, 0.0], [100.0, 100.0], [0.1, 0.1], [0.2, 0.0], [0.0, 0.2]]
    # move every non-seed point near seed 0; seed 1 itself assigns to 1 though.
    out = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(_emb(spark, rows), k=2, n_iter=3).collect()
    }
    assert out[0] == 0 and out[1] == 1
    assert all(out[i] == 0 for i in (2, 3, 4))


def test_kmeans_deterministic_across_runs(spark):
    import random

    rng = random.Random(7)
    rows = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(200)]
    a = sorted(map(tuple, kmeans_assign(_emb(spark, rows), k=4, n_iter=2).collect()))
    b = sorted(map(tuple, kmeans_assign(_emb(spark, rows), k=4, n_iter=2).collect()))
    assert a == b


def test_kmeans_sparse_offset_ids(spark):
    """Seeding must come from the k LOWEST ids actually present, labeled
    by rank — a regenerated table with offset/sparse ids (no vec_id < k)
    used to IndexError / silently under-seed (ADVICE r3)."""
    blob_a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1]]
    blob_b = [[10.0, 10.0], [10.1, 10.0], [10.0, 10.1], [10.1, 10.1]]
    # ids 1000, 2003, 3006, ... — sparse AND offset, none below k
    vecs = [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:]
    ids = [1000 + 1003 * i for i in range(len(vecs))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.cluster_id for r in kmeans_assign(df, k=2, n_iter=2).collect()}
    # seeds are the two lowest ids (blob A's first point, blob B's first
    # point) labeled by rank: cluster 0 = blob A, cluster 1 = blob B
    a_ids = {ids[0], ids[2], ids[3], ids[4]}
    b_ids = {ids[1], ids[5], ids[6], ids[7]}
    assert {out[i] for i in a_ids} == {0}
    assert {out[i] for i in b_ids} == {1}


def test_round_half_up_matches_sql_formula():
    assert _round_half_up(1.2345645, 6) == 1.234565  # .5 at 7th dp rounds up
    # float repr puts -1.0000005*1e6 just below the half → rounds down;
    # what matters is that the IEEE ops are fixed, not half semantics
    assert _round_half_up(-1.0000005, 6) == -1.000001
    assert _round_half_up(2.0, 6) == 2.0


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_stats_short_and_repeated_docs(spark):
    out = {
        r.doc_id: r.asDict()
        for r in repetition_stats(
            _docs(spark, ["one", "a b", "x y x y x y", ""])
        ).collect()
    }
    # single word / empty: no grams at all, but the doc still gets a row
    assert out[0]["n_bigrams"] == 0 and out[0]["n_trigrams"] == 0
    assert out[3]["n_bigrams"] == 0
    # "a b": one bigram, no trigram, nothing duplicated
    assert out[1]["n_bigrams"] == 1
    assert out[1]["top_bigram_n"] == 1
    assert out[1]["dup_bigram_tokens"] == 0
    # "x y x y x y": bigrams = [x y, y x, x y, y x, x y] → top "x y"×3, all 5 dup
    assert out[2]["n_bigrams"] == 5
    assert out[2]["top_bigram_n"] == 3
    assert out[2]["dup_bigram_tokens"] == 5
    # trigrams = [x y x, y x y, x y x, y x y] → top ×2, all 4 dup
    assert out[2]["n_trigrams"] == 4
    assert out[2]["top_trigram_n"] == 2
    assert out[2]["dup_trigram_tokens"] == 4


def test_lm_quality_degenerate_docs(spark):
    from openstack_billing_from_db_spark.operators.text import lm_quality_score

    out = {
        r.doc_id: r.asDict()
        for r in lm_quality_score(_docs(spark, ["", "solo", "a b a b"])).collect()
    }
    assert out[0]["n_bigrams"] == 0 and out[0]["avg_logp_micro"] == 0
    assert out[1]["n_bigrams"] == 0
    assert out[2]["n_bigrams"] == 3
    # probabilities are < 1 → mean log-prob strictly negative
    assert out[2]["avg_logp_micro"] < 0


def test_bpe_train_greedy_semantics(spark):
    from openstack_billing_from_db_spark.operators.bpe import bpe_train

    # "aaaa"×3: pairs of the char sequence a a a a → 'a a'×3 per word ×3
    # docs = 9. After merging 'a a'→'aa' the sequence is 'aa aa' (greedy
    # left-to-right, no re-overlap), so the next top pair is 'aa aa'.
    rules = bpe_train(
        _docs(spark, ["aaaa aaaa aaaa"]), n_merges=2
    ).collect()
    by_rank = {r.merge_rank: r for r in rules}
    assert by_rank[0].pair == "a a" and by_rank[0].pair_count == 9
    assert by_rank[1].pair == "aa aa" and by_rank[1].merged == "aaaa"


def test_bpe_tie_breaks_lexicographic(spark):
    from openstack_billing_from_db_spark.operators.bpe import bpe_train

    # 'ab' and 'ba' each appear once → pair counts tie; 'a b' < 'b a'
    rules = bpe_train(_docs(spark, ["ab ba"]), n_merges=1).collect()
    assert rules[0].pair == "a b"


def test_bpe_merge_respects_symbol_boundaries(spark):
    """A learned pair must only merge true ADJACENT SYMBOLS: after
    merge1 creates 'ab', the word 'abc' has symbols [ab, c], and
    merge2's pair (b, c) must NOT fire inside it (a flat string replace
    of 'b c' on 'ab c' would — ADVICE r3)."""
    from openstack_billing_from_db_spark.operators.bpe import bpe_train

    # freqs: (a,b)=7 > (b,c)=5 → merge1 = 'a b'. After it, 'abc' is
    # [ab, c]; remaining (b,c) pairs come only from 'bc' words (4).
    corpus = " ".join(["ab"] * 6 + ["bc"] * 4 + ["abc"])
    rules = {r.merge_rank: r for r in bpe_train(_docs(spark, [corpus]), n_merges=3).collect()}
    assert rules[0].pair == "a b" and rules[0].pair_count == 7
    assert rules[1].pair == "b c" and rules[1].pair_count == 4
    # merge3 proves 'abc' stayed [ab, c]: its only pair is (ab, c).
    # A boundary-crossing replace collapses 'abc' to one symbol and no
    # (ab, c) pair survives anywhere.
    assert rules[2].pair == "ab c" and rules[2].pair_count == 1


def test_temperature_mix_flattens_skew(spark):
    from openstack_billing_from_db_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    # 900 docs from 'big', 100 from 'small' → with alpha=0.5 the small
    # source's sampling RATE must exceed the big one's (flattening), and
    # with alpha=1.0 rates are equal (natural distribution preserved).
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def rates(alpha):
        kept = temperature_mixture_sample(
            df, id_col="doc_id", source_col="source", alpha=alpha,
            target_fraction=0.2,
        )
        counts = {r.source: r.n for r in kept.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("doc_id").alias("n")
        ).collect()}
        return counts.get("big", 0) / 900, counts.get("small", 0) / 100

    big_half, small_half = rates(0.5)
    assert small_half > big_half  # flattened toward uniform
    big_nat, small_nat = rates(1.0)
    # alpha=1: both rates ≈ target_fraction; hash granularity gives ±2%
    assert abs(big_nat - 0.2) < 0.05 and abs(small_nat - 0.2) < 0.05


def test_temperature_mix_deterministic(spark):
    from openstack_billing_from_db_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(r.doc_id for r in temperature_mixture_sample(
        df, id_col="doc_id", source_col="source").collect())
    b = sorted(r.doc_id for r in temperature_mixture_sample(
        df, id_col="doc_id", source_col="source").collect())
    assert a == b and len(a) > 0


def test_udtf_bigrams_match_native(spark, sf_dir):
    """q86 (Python UDTF lateral) must equal q74's native n_bigrams for
    every doc that has at least one bigram."""
    from openstack_billing_from_db_spark.registry import all_queries

    qs = all_queries()
    udtf_out = {
        (r.doc_id, r.n_bigrams) for r in qs["q86_ngram_udtf"](spark, sf_dir).collect()
    }
    native = {
        (r.doc_id, r.n_bigrams)
        for r in qs["q74_repetition_stats"](spark, sf_dir).collect()
        if r.n_bigrams > 0
    }
    assert udtf_out == native and len(native) > 0


def test_observed_metrics_ride_the_action(spark, sf_dir):
    from openstack_billing_from_db_spark.operators import quality
    from openstack_billing_from_db_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    df, obs = quality.observed(
        ev,
        "ev_quality",
        quality.not_null("user_id"),
        quality.in_range("value", 0.0, 1e9),
    )
    n = df.count()  # the observation rides this job — no second scan
    got = obs.get
    assert got["__rows"] == n
    assert got["not_null_user_id"] == 0  # testdata has no null users
    assert 0 <= got["range_value"] <= n


# --- SemDeDup: embedding-cluster semantic dedup (round 6) -------------------


def test_semantic_dedup_drops_higher_id_twin(spark):
    """Two identical vectors must land in one cluster and the HIGHER id
    must be dropped; an orthogonal vector survives. Greedy rule: with a
    chain of three near-identical vectors, only the lowest id is kept
    (each later one sees a lower-id twin)."""
    from pyspark.sql import functions as F

    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # exact twin of 0 → dropped
        (2, [0.99, 0.01, 0.0, 0.0]),  # near twin of 0 → dropped
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.fate
        for r in semantic_dedup(df, k=2, n_iter=1, threshold=0.9).collect()
    }
    assert out[0] == "kept"
    assert out[1] == "dropped"
    assert out[2] == "dropped"
    assert out[3] == "kept"

    import pytest

    with pytest.raises(ValueError):
        semantic_dedup(df, threshold=0.0)


def test_semantic_dedup_threshold_one_keeps_non_identical(spark):
    """threshold=1.0 only catches exactly-parallel vectors."""
    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),   # parallel (cos=1) → dropped even at t=1
        (2, [1.0, 0.1]),   # close but not parallel → kept at t=1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.fate
        for r in semantic_dedup(df, k=1, n_iter=1, threshold=1.0).collect()
    }
    assert out == {0: "kept", 1: "dropped", 2: "kept"}


def test_kmeans_assign_paths_agree(spark, monkeypatch):
    """Forcing the Arrow nearest-centroid path (threshold 0) must
    reproduce the literal assignment bit-for-bit — same fold, same
    ties → lowest rule (mirrors test_pq_codebook_paths_agree)."""
    import random

    from openstack_billing_from_db_spark.operators.clustering import (
        kmeans_assign,
    )

    rnd = random.Random(11)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = {tuple(r) for r in kmeans_assign(df, k=5, n_iter=2).collect()}
    from openstack_billing_from_db_spark.operators import clustering as C

    monkeypatch.setattr(C, "LITERAL_ASSIGN_MAX_NODES", 0)
    arrow = {tuple(r) for r in kmeans_assign(df, k=5, n_iter=2).collect()}
    assert arrow == lit and len(lit) == 60


def test_semantic_dedup_target_cluster_size_bounds_pairs(spark):
    """target_cluster_size derives k = ceil(n/target); verdicts must
    stay internally consistent (every drop justified by a lower-id
    cluster-mate over threshold) and the largest intra-cluster pair
    block is bounded by the realized cluster sizes."""
    import random

    from pyspark.sql import functions as F

    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    rnd = random.Random(3)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, n_iter=1, threshold=0.99, target_cluster_size=10
    )
    sizes = {
        r.cluster_id: r.n
        for r in out.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    assert sum(sizes.values()) == 120
    # ceil(120/10) = 12 clusters requested; realized sizes vary with the
    # data but the cluster COUNT must match the derived k
    assert len(sizes) <= 12

    import pytest

    with pytest.raises(ValueError):
        semantic_dedup(df, target_cluster_size=0)


# --- greedy k-center coreset (round 6) ---------------------------------------


def test_kcenter_picks_farthest_with_tiebreak(spark):
    from openstack_billing_from_db_spark.operators.clustering import (
        kcenter_coreset,
    )

    # seed = id 1 at origin; ids 2 and 3 both at distance 16 (tie ->
    # lowest id); id 4 nearer
    rows = [
        (1, [0.0, 0.0]),
        (2, [4.0, 0.0]),
        (3, [0.0, 4.0]),
        (4, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kcenter_coreset(df, k=3).collect()
    assert [(r.sel_rank, r.vec_id) for r in out] == [(1, 1), (2, 2), (3, 3)]
    assert out[0].min_dist == 0.0
    assert out[1].min_dist == 16.0
    # third pick: id 3 is 16 from seed but 32 from id 2 -> min is 16
    assert out[2].min_dist == 16.0


def test_kcenter_radii_non_increasing_and_k_cap(spark, sf_dir):
    from openstack_billing_from_db_spark.operators.clustering import (
        kcenter_coreset,
    )
    from openstack_billing_from_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = kcenter_coreset(emb, k=6).collect()
    assert len(out) == 6
    radii = [r.min_dist for r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len({r.vec_id for r in out}) == 6
    # k beyond the corpus: traversal stops at n rows
    tiny = emb.limit(3)
    assert kcenter_coreset(tiny, k=10).count() == 3


def _kcenter_naive_rebuild(emb, *, k):
    """In-test replay of the pre-round-8 quadratic formulation (rebuild
    ALL per-center distances each round, filter by a growing isin
    list) — kept here solely to pin that the running-min rewrite
    selects the identical sequence with identical radii."""
    from openstack_billing_from_db_spark.operators.clustering import _dot_lit
    from openstack_billing_from_db_spark.operators.similarity import dot

    base = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("e"),
    ).persist()
    seed = base.orderBy("vid").limit(1).collect()[0]
    picked = [(1, seed.vid, 0.0)]
    centers = [list(seed.e)]
    for rank in range(2, k + 1):
        dists = [
            (dot(F.col("e"), F.col("e")) - 2.0 * _dot_lit(F.col("e"), c))
            + F.lit(sum(v * v for v in c))
            for c in centers
        ]
        mind = F.least(*dists) if len(dists) > 1 else dists[0]
        nxt = (
            base.filter(~F.col("vid").isin([p[1] for p in picked]))
            .select("vid", "e", mind.alias("mind"))
            .orderBy(F.desc("mind"), "vid")
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        picked.append((rank, nxt[0].vid, float(nxt[0].mind)))
        centers.append(list(nxt[0].e))
    base.unpersist()
    return picked


def test_kcenter_running_min_matches_naive_rebuild(spark, sf_dir):
    """old ≡ new pin (round-8 rewrite): the running-min Gonzalez plan
    must reproduce the quadratic rebuild's selection sequence AND
    radii bit-for-bit on a real corpus (the driver oracle replays the
    naive formulation as chained CTEs, so any drift hash-fails)."""
    from openstack_billing_from_db_spark.operators.clustering import (
        kcenter_coreset,
    )
    from openstack_billing_from_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    new = [
        (r.sel_rank, r.vec_id, r.min_dist)
        for r in kcenter_coreset(emb, k=k).orderBy("sel_rank").collect()
    ]
    old = _kcenter_naive_rebuild(emb, k=k)
    assert new == old


def test_kcenter_preserves_string_id_type(spark):
    """ADVICE r6 #3: the output vec_id column carries the INPUT id
    type instead of a hardcoded long — string ids must round-trip."""
    from openstack_billing_from_db_spark.operators.clustering import (
        kcenter_coreset,
    )

    rows = [
        ("a", [0.0, 0.0]),
        ("b", [4.0, 0.0]),
        ("c", [0.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = kcenter_coreset(df, k=2)
    assert dict(out.dtypes)["vec_id"] == "string"
    got = [(r.sel_rank, r.vec_id, r.min_dist) for r in out.collect()]
    assert got == [(1, "a", 0.0), (2, "b", 16.0)]


def test_semantic_dedup_scaled_uses_arrow_path_end_to_end(spark, sf_dir):
    """q130 scale-path certification (VERDICT r7 #3): the registered
    q140 drives target_cluster_size (k ∝ n) with a derived k above the
    1024-code literal cap, so assignment must run the broadcast+Arrow
    kernel — pinned here by the ArrowEvalPython node in the physical
    plan — and the fate column must show exactly the replica casualties
    (every non-first replica of a vector is an exact dup of a lower id
    in its cluster)."""
    from openstack_billing_from_db_spark.registry import all_queries

    df = all_queries()["q140_semantic_dedup_scaled"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, "expected the broadcast+Arrow kernel"
    rows = df.collect()
    n = len(rows)
    assert n % 5 == 0 and n > 0
    fates = {r.vec_id: r.fate for r in rows}
    base_ids = [v for v in fates if v < 1_000_000]
    # replicas (shifted ids) are exact duplicates of a lower id in the
    # same cluster -> dropped; the originals are the survivors
    assert all(fates[v] == "kept" for v in base_ids)
    assert all(
        fates[r * 1_000_000 + v] == "dropped"
        for v in base_ids
        for r in range(1, 5)
    )


def test_hierarchical_assign_matches_flat(spark):
    """The exact two-level IVF-style assignment kernel (coarse cells +
    triangle-inequality-verified probes, VERDICT r8 Next #3) must
    reproduce the flat Arrow argmin EXACTLY on a fixture past
    HIERARCHICAL_ASSIGN_MIN_CENTROIDS — including duplicate-centroid
    ties (→ lowest index) and far-outlier vectors whose nearest fine
    centroid lives OUTSIDE their n_probe nearest coarse cells (the
    verification pass, not probe luck, must catch those)."""
    import random

    from openstack_billing_from_db_spark.operators import clustering as C
    from openstack_billing_from_db_spark.operators.quantization import (
        _nearest_code_arrow,
    )

    rnd = random.Random(23)
    k = C.HIERARCHICAL_ASSIGN_MIN_CENTROIDS + 50
    dims = 6
    centroids = [
        [round(rnd.uniform(-10, 10), 3) for _ in range(dims)]
        for _ in range(k)
    ]
    centroids[17] = list(centroids[k - 19])  # exact tie pair across cells
    rows = []
    for i in range(400):
        c = centroids[rnd.randrange(k)]
        rows.append((i, [v + rnd.uniform(-0.05, 0.05) for v in c]))
    rows.append((400, list(centroids[17])))  # sits exactly on the tie
    rows.append((401, [1e6] * dims))  # far outlier: bounds must verify
    df = spark.createDataFrame(rows, "vid long, e array<double>")

    hier = {
        (r.vid, r.cluster)
        for r in C._assign(df, centroids).collect()
    }
    flat = {
        (r.vid, r.cluster)
        for r in df.withColumn(
            "cluster", _nearest_code_arrow(F.col("e"), centroids)
        ).collect()
    }
    assert hier == flat and len(hier) == 402
    tie = {c for v, c in hier if v == 400}
    assert tie == {17}  # lowest index of the duplicate pair


def test_semantic_dedup_hierarchical_assignment_threshold(spark):
    """semantic_dedup's assignment path rides _assign, so a derived
    k >= HIERARCHICAL_ASSIGN_MIN_CENTROIDS flows through the two-level
    kernel with identical verdicts (threshold dropped to make the
    hierarchical path reachable on a small fixture)."""
    import random

    from openstack_billing_from_db_spark.operators import clustering as C
    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    rnd = random.Random(5)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(4)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        tuple(r)
        for r in semantic_dedup(
            df, k=60, n_iter=1, threshold=0.9
        ).collect()
    }
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(C, "HIERARCHICAL_ASSIGN_MIN_CENTROIDS", 32)
        got = {
            tuple(r)
            for r in semantic_dedup(
                df, k=60, n_iter=1, threshold=0.9
            ).collect()
        }
    finally:
        mp.undo()
    assert got == want and len(want) == 120


def test_hierarchical_assign_matches_flat_large_norms(spark):
    """ADVICE r9: best_d is reconstructed as sqrt(best + |x|^2), which
    cancels catastrophically when |x|^2 >> |x-c|^2 (large shared offset,
    tiny separations). The slack must scale with the CANCELLED
    magnitude — this fixture puts every coordinate near 1e8 with O(1)
    centroid separation, where the old 1e-7*(1+best_d) slack is orders
    of magnitude below the sqrt's absolute error — and the hierarchical
    kernel must still reproduce the flat argmin exactly."""
    import random

    from openstack_billing_from_db_spark.operators import clustering as C
    from openstack_billing_from_db_spark.operators.quantization import (
        _nearest_code_arrow,
    )

    rnd = random.Random(41)
    k = C.HIERARCHICAL_ASSIGN_MIN_CENTROIDS + 10
    dims = 4
    off = 1e8
    centroids = [
        [off + rnd.uniform(-50, 50) for _ in range(dims)] for _ in range(k)
    ]
    rows = []
    for i in range(150):
        c = centroids[rnd.randrange(k)]
        # sit essentially ON a centroid: |x-c|^2 ~ 1e-6 vs |x|^2 ~ 4e16
        rows.append((i, [v + rnd.uniform(-1e-3, 1e-3) for v in c]))
    df = spark.createDataFrame(rows, "vid long, e array<double>")

    hier = {(r.vid, r.cluster) for r in C._assign(df, centroids).collect()}
    flat = {
        (r.vid, r.cluster)
        for r in df.withColumn(
            "cluster", _nearest_code_arrow(F.col("e"), centroids)
        ).collect()
    }
    assert hier == flat and len(hier) == 150


def test_semantic_dedup_pq_backend_recall_and_no_false_drops(spark):
    """The PQ-backed SemDeDup pair stage (VERDICT r9 Next #7): drops
    are a SUBSET of the exact path's (candidates pass the identical
    exact verify), exact-duplicate replicas are always caught (their
    codes are identical, so the approximate cosine is exactly 1), the
    cluster assignment matches the exact path (same kmeans), and on a
    well-separated fixture the PQ path reproduces the exact verdicts
    in full."""
    import random

    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pq,
    )

    rnd = random.Random(9)
    dims = 8
    # 12 well-separated anchor points; 5 members each: member 0 is the
    # anchor, members 1-2 exact replicas, members 3-4 mild jitter
    rows = []
    vid = 0
    for a in range(12):
        anchor = [round(rnd.uniform(-1, 1), 3) or 0.1 for _ in range(dims)]
        for m in range(5):
            if m <= 2:
                v = list(anchor)
            else:
                v = [round(x + rnd.uniform(-0.02, 0.02), 4) for x in anchor]
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(k=12, n_iter=2, threshold=0.95)
    exact = {
        r.vec_id: (r.cluster_id, r.fate)
        for r in semantic_dedup(df, **kw).collect()
    }
    pq = {
        r.vec_id: (r.cluster_id, r.fate)
        for r in semantic_dedup_pq(
            df, dims=dims, pq_subspaces=4, pq_k=8,
            candidate_slack=0.05, **kw
        ).collect()
    }
    assert set(pq) == set(exact) and len(pq) == 60
    # identical clustering (same deterministic kmeans)
    assert {v: c for v, (c, _) in pq.items()} == {
        v: c for v, (c, _) in exact.items()
    }
    exact_drops = {v for v, (_, f) in exact.items() if f == "dropped"}
    pq_drops = {v for v, (_, f) in pq.items() if f == "dropped"}
    # no false drops, ever (exact verify gate)
    assert pq_drops <= exact_drops
    # exact replicas (ids ≡ 1, 2 mod 5) are always caught: identical
    # codes → cos_hat exactly 1 ≥ threshold − slack
    replicas = {v for v in range(60) if v % 5 in (1, 2)}
    assert replicas <= pq_drops
    # on this well-separated fixture the PQ path is verdict-identical
    assert pq == exact and exact_drops


def test_hierarchical_threshold_is_cost_derived():
    """The flat↔hierarchical switch derives from the per-vector flop
    compare (k·d vs margin·(1+n_probe)·√k·d — n and d cancel), not a
    hand-set constant: k > (margin·(1+n_probe))²."""
    from openstack_billing_from_db_spark.operators import clustering as C

    t = C.hierarchical_assign_threshold()
    assert t == C.HIERARCHICAL_ASSIGN_MIN_CENTROIDS
    m, p = C.HIERARCHICAL_ASSIGN_COST_MARGIN, C.HIERARCHICAL_ASSIGN_N_PROBE
    assert t - 1 <= (m * (1 + p)) ** 2 < t
    # modeled flat cost strictly exceeds margin× hier cost at the
    # threshold, and not just below it
    assert t > (m * (1 + p)) * (t ** 0.5)
    k = t - 1
    assert k <= (m * (1 + p)) * (k ** 0.5)
    # the k=1000 SemDeDup regime (measured 2.1× hier win on the x100
    # replica) engages the two-level kernel
    assert t <= 1000
    # custom probe settings shift the derivation consistently
    assert C.hierarchical_assign_threshold(n_probe=8, margin=2.0) == 325


def test_bpe_batched_b1_bitident_to_sequential(spark):
    """bpe_train_batched at batch=1, window=1 IS sequential greedy BPE:
    the window holds only the top pair, acceptance is trivial, and one
    merge applies per round — every rule (rank, pair, merged, count)
    must match the sequential greedy trace bit-for-bit (bpe_train is
    this call, so q78 ≡ q162's B=1 path). The reference is that trace
    worked by hand: merging (a, b) first leaves "abc" as "ab c", so
    (b, c) counts 4 not 5; "aaaa" holds 3 overlapping (a, a) pairs and
    merges greedily to "aa aa"; count ties break by pair asc."""
    from openstack_billing_from_db_spark.operators.bpe import bpe_train_batched

    corpus = " ".join(["ab"] * 6 + ["bc"] * 4 + ["abc", "aaaa", "cd cd"])
    seq = [
        (0, "a b", "ab", 7),
        (1, "b c", "bc", 4),
        (2, "a a", "aa", 3),
        (3, "c d", "cd", 2),
        (4, "aa aa", "aaaa", 1),
        (5, "ab c", "abc", 1),
    ]
    bat = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in bpe_train_batched(
            _docs(spark, [corpus]), n_rounds=6, batch=1, window=1
        ).collect()
    ]
    assert bat == seq and len(seq) == 6


def test_bpe_batched_equals_sequential_when_disjoint(spark):
    """Where the top pairs don't interact (disjoint symbols, no
    merged-string collisions), one batched round equals the first B
    sequential merges exactly — the 'bit-pinned where merges don't
    interact' contract (VERDICT r11 Next #5)."""
    from openstack_billing_from_db_spark.operators.bpe import (
        bpe_train,
        bpe_train_batched,
    )

    # four disjoint two-letter words with distinct frequencies: the
    # top-4 pairs (a,b) (c,d) (e,f) (g,h) share no symbols
    corpus = " ".join(["ab"] * 9 + ["cd"] * 7 + ["ef"] * 5 + ["gh"] * 3)
    seq = [
        (r.pair, r.merged, r.pair_count)
        for r in bpe_train(_docs(spark, [corpus]), n_merges=4).collect()
    ]
    out = bpe_train_batched(
        _docs(spark, [corpus]), n_rounds=1, batch=4, window=16
    ).collect()
    bat = [(r.pair, r.merged, r.pair_count) for r in out]
    assert bat == seq
    # all four landed in the single round → one driver barrier for
    # four merges
    assert {r.round for r in out} == {0}


def test_bpe_batched_conflict_rule(spark):
    """Interacting candidates defer to later rounds: with 'ab' and 'bc'
    both frequent, (a,b) and (b,c) share 'b' — only (a,b) merges in
    round 0; (b,c) merges in round 1 with its re-counted frequency
    (the 'abc' occurrence no longer contributes a (b,c) pair)."""
    from openstack_billing_from_db_spark.operators.bpe import (
        bpe_train_batched,
    )

    corpus = " ".join(["ab"] * 6 + ["bc"] * 4 + ["abc"])
    out = {
        r.merge_rank: r
        for r in bpe_train_batched(
            _docs(spark, [corpus]), n_rounds=2, batch=4, window=8
        ).collect()
    }
    assert out[0].pair == "a b" and out[0].round == 0
    # (b, c) was rank-2 in round 0 but conflicts with (a, b); the
    # round-0 batch takes non-conflicting lower ranks instead, and
    # (b, c) merges next round at count 4 (post-merge recount)
    round0 = [r for r in out.values() if r.round == 0]
    assert all(r.pair != "b c" for r in round0)
    bc = [r for r in out.values() if r.pair == "b c"]
    assert bc and bc[0].round == 1 and bc[0].pair_count == 4
