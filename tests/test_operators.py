"""Unit tests for the operator library on small known fixtures —
the reference's test strategy (SURVEY.md §5) applied to our operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_asof_join_backward_basic(spark):
    from poormans_kube_etl_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 10, "2024-01-01 12:00:00"), (3, 20, "2024-01-01 09:00:00")],
        "id long, k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 09:30:00", "a"), (10, "2024-01-01 11:00:00", "b"), (20, "2024-01-01 09:30:00", "c")],
        "k long, rts string, tag string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    out = asof_join_backward(left, right, ["k"], "ts", "rts", ["tag"])
    got = {r.id: r.tag for r in out.collect()}
    # id=1: latest right <= 10:00 is 'a'; id=2: 'b'; id=3: none before 09:00
    assert got == {1: "a", 2: "b", 3: None}


def test_asof_inclusive_at_equal_ts(spark):
    from poormans_kube_etl_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 1, "2024-01-01 10:00:00")], "id long, k long, ts string")
    left = left.withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame([(1, "2024-01-01 10:00:00", "x")], "k long, rts string, tag string")
    right = right.withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join_backward(left, right, ["k"], "ts", "rts", ["tag"]).collect()
    assert out[0].tag == "x"  # backward as-of is inclusive


def test_asof_payload_nulls_and_row_consistency(spark):
    """ADVICE r01: per-column last(ignorenulls) fills resurrected an
    older row's value where the as-of row legitimately carries NULL, and
    could mix payload columns from different right rows. The struct
    carry must keep the as-of row's NULL and keep all payload columns
    from the SAME right row."""
    from poormans_kube_etl_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 12:00:00")], "id long, k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # older right row has tag='old', v=1; the as-of row has tag=NULL, v=2
    right = spark.createDataFrame(
        [(10, "2024-01-01 09:00:00", "old", 1), (10, "2024-01-01 11:00:00", None, 2)],
        "k long, rts string, tag string, v long",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join_backward(left, right, ["k"], "ts", "rts", ["tag", "v"]).collect()[0]
    assert out.v == 2
    assert out.tag is None, "as-of row's legitimate NULL must survive, not 'old'"


def test_asof_forward_basic(spark):
    from poormans_kube_etl_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 10, "2024-01-01 12:00:00")],
        "id long, k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 10:00:00", "now"), (10, "2024-01-01 11:00:00", "later")],
        "k long, rts string, tag string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = {r.id: r.tag for r in asof_join_forward(left, right, ["k"], "ts", "rts", ["tag"]).collect()}
    # id=1: earliest right >= 10:00 is 'now' (inclusive); id=2: none after 12:00
    assert out == {1: "now", 2: None}


def test_minhash_finds_known_near_dups(spark, sf_dir):
    """The exact-Jaccard query found pairs >= 0.5 at this SF; MinHash-LSH
    with these parameters must recover high-similarity pairs too."""
    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5).collect()
    assert all(p.jaccard >= 0.5 for p in pairs)
    assert all(p.a < p.b for p in pairs)


def test_minhash_identical_docs_always_pair(spark):
    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words about spark query engines at scale"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_near_duplicates(docs, threshold=0.9).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard == 1.0


def test_hot_bucket_degenerate_corpus_completes(spark):
    """VERDICT r01 #5: 10k identical docs put every doc in ONE bucket per
    band — unguarded all-pairs expansion is 50M pairs in a single task.
    With the max_bucket star-link guard this must complete quickly, link
    every doc into one component, and be deterministic across runs."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate legal disclaimer text repeated verbatim everywhere").alias(
            "text"
        ),
    )
    from poormans_kube_etl_spark.operators.graph import connected_components
    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates
    from poormans_kube_etl_spark.operators.simhash import simhash_near_duplicates

    pairs = minhash_near_duplicates(docs, threshold=0.9)
    got = pairs.collect()
    # star linking: every doc pairs with the representative, nothing dropped
    assert len(got) == n - 1
    assert all(p.jaccard == 1.0 for p in got)
    comps = connected_components(pairs.select("a", "b"))
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == n
    # deterministic rerun (the driver's repeated rows-only gate)
    assert sorted((p.a, p.b) for p in got) == sorted(
        (p.a, p.b) for p in minhash_near_duplicates(docs, threshold=0.9).collect()
    )

    sh = simhash_near_duplicates(docs, max_hamming=0).collect()
    assert len(sh) == n - 1
    assert all(p.hamming == 0 for p in sh)


def test_simhash_blocking_covers_requested_radius(spark):
    """ADVICE r01: a fixed 4×16-bit blocking only guarantees recall for
    Hamming <= 3; max_hamming >= 4 silently lost pairs. Block count is
    now derived from the radius: a pair at distance 4 must be found."""
    import pytest

    from poormans_kube_etl_spark.operators.simhash import (
        _BITS,
        simhash_bits_df,
        simhash_near_duplicates,
    )

    with pytest.raises(ValueError, match="fingerprint width"):
        simhash_near_duplicates(None, max_hamming=_BITS)

    # find two docs whose fingerprints differ by exactly 4+ bits, then
    # require the blocking to recover them at that radius
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),
        ],
        "doc_id long, text string",
    )
    bits = {r.doc_id: r.bits for r in simhash_bits_df(docs).collect()}
    d = sum(1 for x, y in zip(bits[1], bits[2]) if x != y)
    if 4 <= d < 64:
        pairs = simhash_near_duplicates(docs, max_hamming=d).collect()
        assert [(p.a, p.b, p.hamming) for p in pairs] == [(1, 2, d)]


def test_simhash_blocking_planner_properties():
    """The r5 scale fix, simhash edition: background candidates per doc
    must stay bounded as N grows (the legacy 16-bit single-span keys
    measured 81 candidates/doc and 40.5M pairs at 500k docs), key
    width must grow with log2(N), every plan must keep the pigeonhole
    guarantee (t <= m - h), combo keys must pack into one bigint, and
    small corpora must keep the legacy plan so driver-SF behavior is
    unchanged."""
    import math

    from poormans_kube_etl_spark.operators.simhash import _block_spans, plan_blocking

    prev_bits = 0
    for n in (5_000, 50_000, 500_000, 5_000_000, 100_000_000, 10_000_000_000):
        m, t = plan_blocking(n, 3)
        assert t <= m - 3, f"guarantee broken at N={n}: ({m}, {t})"
        widths = sorted(length for _, length in _block_spans(m))
        key_bits = sum(widths[:t])
        max_key_bits = sum(sorted((length for _, length in _block_spans(m)))[-t:])
        assert max_key_bits <= 63, f"key overflows a bigint at N={n}"
        tables = math.comb(m, t)
        assert tables <= 64, f"table budget blown at N={n}: {tables}"
        # uniform-model background candidates per doc stay bounded
        assert tables * (n - 1) * 2.0 ** (-key_bits) <= 2.0, f"bg/doc at N={n}"
        assert key_bits >= prev_bits, "key width must not shrink as N grows"
        prev_bits = key_bits
    # small corpora: exactly the legacy radius-derived plan
    assert plan_blocking(5_000, 3) == (4, 1)
    # wider radii still cover the radius (t <= m - h) at any size
    m5, t5 = plan_blocking(500, 5)
    assert t5 <= m5 - 5


def test_simhash_pairs_invariant_to_blocking(spark):
    """The pigeonhole guarantee makes the OUTPUT blocking-invariant:
    every valid (m, t) must yield the identical pair set — blocking
    moves cost, never results. Pinned across the legacy plan, two
    combinatorial plans, and the auto (size-planned) path; an invalid
    plan (t > m - h) must be rejected loudly."""
    import pytest

    from poormans_kube_etl_spark.operators.simhash import simhash_near_duplicates

    base = " ".join(f"tok{k}" for k in range(60))
    rows = [(i, f"{base} filler{i} noise{i * 7} pad{i * 13}") for i in range(40)]
    # planted dups: identical copies (hamming 0 guaranteed) and a
    # one-token append over a 60-token base (small hamming, usually <= 3)
    rows += [(100 + j, base) for j in range(3)]
    rows += [(200 + j, base + f" tweak{j}") for j in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pair_set(**kw):
        return {
            (r.a, r.b, r.hamming)
            for r in simhash_near_duplicates(docs, max_hamming=3, **kw).collect()
        }

    auto = pair_set()
    assert auto, "corpus must produce at least one near-dup pair"
    for plan in ((4, 1), (5, 2), (6, 3)):
        assert pair_set(blocking=plan) == auto, f"pairs moved under {plan}"
    with pytest.raises(ValueError, match="blocking"):
        simhash_near_duplicates(docs, max_hamming=3, blocking=(4, 2))
    # ADVICE r05: a forced plan must also pass the key-pack check —
    # (4, 4) at radius 0 satisfies t <= m - h but packs 64 bits, which
    # overflows a signed bigint at runtime under ANSI
    with pytest.raises(ValueError, match="bigint"):
        simhash_near_duplicates(docs, max_hamming=0, blocking=(4, 4))


def test_simhash_checked_sf_buckets_under_star_guard(spark, sf_dir):
    """Oracle-exactness precondition (ADVICE r05): the all-pairs DuckDB
    twin of dedup_simhash_pairs is exact only while NO bucket exceeds
    max_bucket=256 — past that the Spark side star-links (a strict
    subset of all-pairs). Pin the precondition at the checked SF with
    the registered query's exact config, so a future corpus change that
    grows a hot duplicate cluster fails HERE with a precise message
    instead of surfacing as a mysterious sweep hash mismatch."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.simhash import simhash_buckets
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    buckets = simhash_buckets(docs, max_hamming=3, token_hash="md5")
    biggest = buckets.agg(F.max(F.size("ds")).alias("mx")).collect()[0].mx
    assert biggest is None or biggest <= 256, (
        f"a {biggest}-doc bucket exceeds max_bucket=256: the star guard "
        "now engages and the all-pairs oracle for dedup_simhash_pairs "
        "no longer models the output — re-plan blocking or re-derive "
        "the oracle before trusting the sweep"
    )


def test_minhash_md5_buckets_under_star_guard(spark, sf_dir):
    """Oracle-exactness precondition for the md5 MinHash family (same
    contract as the simhash test above): the DuckDB twin of
    dedup_minhash_lsh_pairs models all-pairs within each LSH bucket,
    which matches the Spark side only while NO bucket exceeds
    max_bucket=256 — past that the star guard engages and Spark emits a
    strict subset. Pin the precondition at the checked SF with the
    registered query's exact config (shingle_len=3, k=32, 8x4 banding)."""
    from poormans_kube_etl_spark.operators.minhash import (
        exploded_shingle_h0_md5,
        lsh_bucket_stats,
        minhash_signatures_md5,
    )
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    signed = minhash_signatures_md5(
        exploded_shingle_h0_md5(docs, "doc_id", "text", 3), "doc_id", 32
    )
    mx = (
        lsh_bucket_stats(signed, "doc_id", 8, 4)
        .agg(F.max("bucket_size").alias("mx"))
        .collect()[0]
        .mx
    )
    assert mx is None or mx <= 256, (
        f"a {mx}-doc bucket exceeds max_bucket=256: the star guard now "
        "engages and the bucket-all-pairs oracle for "
        "dedup_minhash_lsh_pairs no longer models the output — re-plan "
        "banding or re-derive the oracle before trusting the sweep"
    )


def test_minhash_md5_h0_matches_python_model(spark):
    """Pin the md5-family shingle fingerprint arithmetic against an
    independent pure-Python model (hashlib md5 + the same Karp-Rabin
    rolls), covering BOTH the full-window path and the short-doc
    degenerate path (n_toks < shingle_len). This is the unit-level
    anchor under the cross-engine oracle: if either engine's expression
    drifts (power layout, mod discipline, bit packing), this names the
    exact fingerprint instead of a sweep hash mismatch."""
    import hashlib

    from poormans_kube_etl_spark.operators.minhash import (
        MD5_ROLL_BASE_A,
        MD5_ROLL_BASE_B,
        MD5_ROLL_MOD,
        exploded_shingle_h0_md5,
        md5_roll_pows,
    )

    M = MD5_ROLL_MOD

    def tokh(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % M

    def roll(ths: list[int], base: int) -> int:
        m = len(ths)
        pows = md5_roll_pows(base, m)
        return sum((h * pows[m - 1 - j]) % M for j, h in enumerate(ths)) % M

    def h0(toks: list[str]) -> int:
        ths = [tokh(t) for t in toks]
        return (roll(ths, MD5_ROLL_BASE_A) << 31) | roll(ths, MD5_ROLL_BASE_B)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two"), (3, "single")],
        "doc_id long, text string",
    )
    got: dict[int, set[int]] = {}
    for r in exploded_shingle_h0_md5(docs, "doc_id", "text", 3).collect():
        got.setdefault(r.doc_id, set()).add(r.h0)
    t1 = "alpha beta gamma delta".split(" ")
    expected = {
        1: {h0(t1[0:3]), h0(t1[1:4])},
        2: {h0(["one", "two"])},  # degenerate: whole-doc window, m=2
        3: {h0(["single"])},  # degenerate: m=1
    }
    assert got == expected


def test_srp_banding_respects_tiny_plane_budget():
    """ADVICE r05: the no-plan fallback used max(4, ...) and could
    overspend a sub-4 plane budget (max_planes=2 -> r=4 > budget).
    The fallback must clamp to the budget; a zero budget is an error."""
    import pytest

    from poormans_kube_etl_spark.operators.similarity import srp_banding

    for budget in (1, 2, 3):
        # threshold near bg with huge N forces the fallback path
        r, bands = srp_banding(0.4, n_vectors=10**9, max_planes=budget)
        assert r * bands <= budget, f"{(r, bands)} overspends budget {budget}"
    with pytest.raises(ValueError, match="max_planes"):
        srp_banding(0.4, n_vectors=10**9, max_planes=0)


def test_simhash_md5_bits_match_reference_digest(spark):
    """The token_hash="md5" variant's bit derivation is a cross-engine
    CONTRACT (the DuckDB oracle re-derives it): bit b of a token must be
    bit b%60 of the (b//60)-th 60-bit half of the md5 hex digest. Pin it
    against hashlib directly, independent of either SQL engine, so a
    slice/endianness regression on the Spark side fails here and not
    only in the full oracle sweep."""
    import hashlib

    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.simhash import simhash_bits_df

    toks = ["alpha", "beta", "", "x", "longer-token-string-42"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, text string"
    )
    # a one-token doc's majority vote IS that token's bit vector
    got = {
        r.doc_id: r.bits
        for r in simhash_bits_df(docs, token_hash="md5").collect()
    }
    for i, t in enumerate(toks):
        hexd = hashlib.md5(t.encode()).hexdigest()
        h1, h2 = int(hexd[0:15], 16), int(hexd[15:30], 16)
        want = [(h1 >> b) & 1 for b in range(60)] + [(h2 >> b) & 1 for b in range(4)]
        assert got[i] == want, f"bit derivation drifted for token {t!r}"
    # and the xxhash64 default still matches Spark's own digest
    xx = {
        r.doc_id: r.bits for r in simhash_bits_df(docs).collect()
    }
    ref = {
        r.doc_id: [(r.h >> b) & 1 for b in range(64)]
        for r in docs.select("doc_id", F.xxhash64(F.col("text")).alias("h")).collect()
    }
    # python ints are arbitrary-precision two's-complement on >>, which
    # matches Spark's signed-long getbit for b < 64
    for i in range(len(toks)):
        assert xx[i] == ref[i]


def test_simhash_identical_docs_zero_hamming(spark):
    from poormans_kube_etl_spark.operators.simhash import (
        simhash_fingerprints,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2] and fps[1] != fps[3]
    assert len(fps[1]) == 16  # 64-bit hex
    pairs = simhash_near_duplicates(docs, max_hamming=0).collect()
    assert [(p.a, p.b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_brute_force_topk_self_excluded_and_ranked(spark, sf_dir):
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, 5).collect()
    assert len(out) == 5
    assert all(r.nn_id != 0 for r in out)
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_subset_of_bruteforce_scores(spark, sf_dir):
    """LSH results are approximate but every returned sim must equal the
    exact cosine (it only prunes candidates, never rescores)."""
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk, lsh_topk
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r.nn_id: r.sim for r in brute_force_topk(emb, queries, 100).collect()}
    approx = lsh_topk(emb, queries, 5, n_planes=4).collect()
    for r in approx:
        assert abs(exact[r.nn_id] - r.sim) < 1e-12


def test_topk_query_broadcast_size_guard(spark, sf_dir, monkeypatch):
    """VERDICT r08 #7: the forced query-side broadcast needs a size
    guard. With the budget shrunk below any real plan, brute force must
    raise loudly (a non-broadcast cartesian is never the right plan),
    while the equi-join paths (lsh/ivf) must fall back to an un-hinted
    shuffle join AND still return the broadcast-path answer."""
    import pytest

    from poormans_kube_etl_spark.operators import similarity as sim
    from poormans_kube_etl_spark.plans.inspect import formatted_plan
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want_lsh = sorted(
        map(tuple, sim.lsh_topk(emb, queries, 3, n_planes=4).collect())
    )
    want_ivf = sorted(map(tuple, sim.ivf_topk(emb, queries, 3).collect()))

    # shrink BOTH the stats budget and the row-probe cap: the probe
    # exists so inflated filter stats alone can't trip the guard
    # (default Catalyst filter stats don't shrink — r9 sf10 sweep)
    monkeypatch.setattr(sim, "_QUERY_BCAST_MAX_ROW_BYTES", 1)
    monkeypatch.setattr(sim, "_QUERY_BCAST_MAX_ROWS", 0)
    with pytest.raises(ValueError, match="broadcast budget"):
        sim.brute_force_topk(emb, queries, 3)
    got_lsh_df = sim.lsh_topk(emb, queries, 3, n_planes=4)
    got_ivf_df = sim.ivf_topk(emb, queries, 3)
    # the hint is gone from the over-budget plans...
    assert "ResolvedHint" not in got_lsh_df._jdf.queryExecution().logical().toString()
    assert formatted_plan(got_lsh_df)  # plan still builds end-to-end
    # ...and the shuffle-join answer matches the broadcast-path answer
    assert sorted(map(tuple, got_lsh_df.collect())) == want_lsh
    assert sorted(map(tuple, got_ivf_df.collect())) == want_ivf
    # under-budget behavior unchanged: guard restored, broadcast hint on
    monkeypatch.setattr(sim, "_QUERY_BCAST_MAX_ROW_BYTES", 256 << 20)
    monkeypatch.setattr(sim, "_QUERY_BCAST_MAX_ROWS", 200_000)
    assert len(sim.brute_force_topk(emb, queries, 3).collect()) > 0
    # inflated stats + a genuinely tiny query side: the row probe keeps
    # the broadcast (and brute force keeps working) even when the byte
    # estimate alone is over budget
    monkeypatch.setattr(sim, "_QUERY_BCAST_MAX_ROW_BYTES", 1)
    assert len(sim.brute_force_topk(emb, queries, 3).collect()) > 0


def test_vector_dim_mismatch_fails_loudly(spark):
    """ADVICE r03: a vector shorter/longer than ``dim`` used to silently
    NULL (or truncate) the codegen'd dot product. Both the expression
    path and the numpy GEMM path must fail the job naming the length."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from poormans_kube_etl_spark.operators.similarity import (
        brute_force_topk,
        random_hyperplane_buckets,
    )

    bad = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    queries = bad.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises((Py4JJavaError, PySparkException), match="expected 4-dim"):
        brute_force_topk(bad, queries, 1, dim=4).collect()
    with pytest.raises(Exception, match="expected 4-dim"):
        random_hyperplane_buckets(bad, n_planes=4, dim=4).collect()


def test_vector_dim_inferred_from_corpus(spark):
    """dim=None derives the width from the first non-null row — results
    must match the explicit-dim build exactly."""
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(6)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inferred = brute_force_topk(emb, queries, 3).collect()
    explicit = brute_force_topk(emb, queries, 3, dim=6).collect()
    assert [tuple(r) for r in inferred] == [tuple(r) for r in explicit]
    assert len(inferred) == 3


def test_kmeans_separates_clear_clusters(spark):
    """Two well-separated blobs in 4-D: k=2 must recover them exactly
    and place centroids at the blob means."""
    from poormans_kube_etl_spark.operators.kmeans import kmeans_fit

    rows = [(i, [10.0 + (i % 3), 10.0, 0.0, 0.0]) for i in range(10)] + [
        (i, [-10.0 - (i % 3), -10.0, 0.0, 0.0]) for i in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids, assigned = kmeans_fit(df, k=2, max_iter=5)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    first = got[0]
    assert all(got[i] == first for i in range(10))
    assert all(got[i] != first for i in range(10, 20))
    assert abs(centroids[first][0] - 11.0) < 0.2  # mean of 10,11,12 pattern
    assert abs(centroids[1 - first][1] + 10.0) < 1e-6


def test_connected_components_chain_and_island(spark):
    from poormans_kube_etl_spark.operators.graph import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (10, 11)], "a long, b long"
    )
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 10: 10, 11: 10}
    keepers = {r.doc: r.keeper for r in dedup_clusters(pairs).collect()}
    assert keepers[4] == 1 and keepers[6] == 5 and keepers[11] == 10


def test_connected_components_converges_on_star(spark):
    # star graph: hub 0 connected to 1..30 — diameter 2, converges fast
    pairs = spark.createDataFrame([(0, i) for i in range(1, 31)], "a long, b long")
    from poormans_kube_etl_spark.operators.graph import connected_components

    cc = connected_components(pairs).collect()
    assert all(r.component == 0 for r in cc)
    assert len(cc) == 31


def test_ivf_topk_sims_are_exact_within_probed_cells(spark, sf_dir):
    """IVF prunes cells but never rescores: every returned sim must
    equal the exact cosine from the brute-force path."""
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk, ivf_topk
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r.nn_id: r.sim for r in brute_force_topk(emb, queries, 100).collect()}
    approx = ivf_topk(emb, queries, 5, n_probe=2).collect()
    assert len(approx) == 5
    for r in approx:
        assert abs(exact[r.nn_id] - r.sim) < 1e-12


def test_sample_frames_covers_stream_deterministically(spark):
    from poormans_kube_etl_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame([(1, b"x" * 1000), (2, b"y" * 100)], "doc_id long, content binary")
    rows = sorted(
        (r.doc_id, r.frame_idx, r.frame_bytes) for r in sample_frames(df, 256, 2).collect()
    )
    # doc 1: 4 frames (256,256,256,232) → sampled idx 0, 2
    # doc 2: 1 frame of 100 → sampled idx 0
    assert rows == [(1, 0, 256), (1, 2, 256), (2, 0, 100)]


def test_sample_frames_jvm_matches_python(spark, sf_dir):
    """The all-JVM sampler must be byte-identical to the mapInPandas
    one — same rows, same per-frame md5."""
    from pyspark.sql import functions as F2

    from poormans_kube_etl_spark.operators.multimodal import sample_frames, sample_frames_jvm
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    binary = docs.select("doc_id", F2.encode("text", "UTF-8").alias("content"))
    py = sorted(map(tuple, sample_frames(binary, 256, 4).collect()))
    jvm = sorted(map(tuple, sample_frames_jvm(binary, 256, 4).collect()))
    assert py == jvm and len(py) > 0


def test_resize_images_geometry_and_bytes(spark):
    """Resize fits (w, h) into the 32×32 box aspect-preserved with
    integer math, and the stub 'resample' is exactly the new pixel
    budget's byte prefix."""
    from poormans_kube_etl_spark.operators.multimodal import (
        fake_decode_image,
        resize_images,
    )

    payloads = [(1, b"a" * 10), (2, b"b" * 3000), (3, b"c" * 4000), (4, b"")]
    df = spark.createDataFrame(payloads, "doc_id long, content binary")
    got = {r.doc_id: r for r in resize_images(df, 32, 32).collect()}
    for did, data in payloads:
        w, h, c, _ = fake_decode_image(data)
        r = got[did]
        assert (r.width, r.height) == (w, h)
        assert r.new_width <= 32 and r.new_height <= 32
        assert r.new_width >= 1 and r.new_height >= 1
        # aspect preserved within integer truncation when downscaling
        if w > 32 or h > 32:
            assert max(r.new_width, r.new_height) == 32
        else:
            assert (r.new_width, r.new_height) == (w, h)
        assert bytes(r.resized) == data[: r.new_width * r.new_height * c]


def test_multimodal_decode_stub(spark, sf_dir):
    from poormans_kube_etl_spark.operators.multimodal import decode_image_features
    from poormans_kube_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    out = decode_image_features(binary).collect()
    assert len(out) == 20
    for r in out:
        assert r.n_bytes > 0 and 1 <= r.width <= 64 and r.channels == 3
        assert 0.0 <= r.mean_byte <= 255.0


def test_real_decode_raises_without_pillow():
    from poormans_kube_etl_spark.operators import multimodal

    if not multimodal.HAS_PIL:
        import pytest

        with pytest.raises(NotImplementedError):
            multimodal.real_decode_image(b"\x00\x01")


def test_lsh_bucket_stats_flags_oversized(spark):
    from poormans_kube_etl_spark.operators.minhash import (
        exploded_shingles,
        lsh_bucket_stats,
        minhash_signatures,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit("same text for every doc here").alias("text")
    )
    signed = minhash_signatures(exploded_shingles(docs, "doc_id", "text", 3), "doc_id", 32)
    stats = lsh_bucket_stats(signed, "doc_id", 8, 4, max_bucket=10).collect()
    assert stats and all(r.bucket_size == 40 and r.oversized for r in stats)


def test_with_global_order_matches_naive_window(spark):
    """Two-pass global rank/cumsum == the naive single-partition window,
    including exact decimal running sums and desc ordering with ties
    broken by key."""
    from decimal import Decimal

    from pyspark.sql import Window

    from poormans_kube_etl_spark.operators.ordering import with_global_order

    rows = [(i, Decimal(str((i * 37) % 11 + 0.25))) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v decimal(18,2)").repartition(7)
    order = [F.col("v").desc(), F.col("k")]
    fast = {
        r.k: (r.pos, r.cum)
        for r in with_global_order(df, order, rank_col="pos", cumsum={"v": "cum"}).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = {
        r.k: (r.pos, r.cum)
        for r in df.select(
            "k", F.row_number().over(w).cast("bigint").alias("pos"), F.sum("v").over(w).alias("cum")
        ).collect()
    }
    assert fast == naive


def test_connected_components_long_chain_converges(spark):
    """A 100-node chain has diameter 99 — neighbor-only propagation
    would need 99 rounds and silently mislabel under a 20-round cap.
    Pointer jumping must converge well within the default cap."""
    from poormans_kube_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(99)], "a long, b long")
    comps = connected_components(edges)
    rows = comps.collect()
    assert len(rows) == 100
    assert all(r.component == 0 for r in rows)


def test_embedding_lsh_pairs_subset_of_exact(spark, sf_dir):
    """SRP-LSH candidates verified with exact cosine: every emitted pair
    must appear in the exact all-pairs result at the same threshold
    (precision = 1 after verify; recall < 1 is the LSH trade)."""
    from poormans_kube_etl_spark.operators.similarity import (
        cosine,
        embedding_near_pairs_lsh,
        to_double_vec,
    )
    from poormans_kube_etl_spark.sources import load_table

    from poormans_kube_etl_spark.queries.dedup import _with_planted_near_dups

    # planted-near-dup corpus at the design threshold: output is
    # NONEMPTY, so subset-of-exact is a real check, not a vacuous one
    emb = _with_planted_near_dups(load_table(spark, sf_dir, "embeddings"))
    got = {(r.a, r.b) for r in embedding_near_pairs_lsh(emb, threshold=0.9).collect()}
    assert len(got) >= 40  # the planted pairs are found
    e = emb.select("vec_id", to_double_vec("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    exact = {
        (r.a, r.b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("c"),
        )
        .where(F.col("c") >= 0.9)
        .collect()
    }
    assert got <= exact
    # identical-direction vectors always collide in every band
    dup = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64), (3, [-1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_pairs_lsh(dup, threshold=0.99).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]


def test_embedding_lsh_quantized_verify_tracks_exact(spark, sf_dir):
    """VERDICT r03 #6: the int8 verify option. Same candidates, verify on
    symmetric-quantized vectors — every emitted cos_sim must sit within
    the quantization error band of the exact cosine, the pair set must
    match exact-verify away from the threshold boundary, and the verify
    side must actually carry tinyint vectors (the 8x byte-width claim)."""
    from poormans_kube_etl_spark.operators.similarity import (
        cosine,
        embedding_near_pairs_lsh,
        to_double_vec,
    )
    from poormans_kube_etl_spark.plans.inspect import formatted_plan
    from poormans_kube_etl_spark.sources import load_table

    from poormans_kube_etl_spark.queries.dedup import _with_planted_near_dups

    emb = _with_planted_near_dups(load_table(spark, sf_dir, "embeddings"))
    thresh, tol = 0.9, 0.05
    q = embedding_near_pairs_lsh(emb, threshold=thresh, quantized=True)
    assert "tinyint" in formatted_plan(q)
    got_q = {(r.a, r.b): r.cos_sim for r in q.collect()}
    got_f = {
        (r.a, r.b): r.cos_sim
        for r in embedding_near_pairs_lsh(emb, threshold=thresh).collect()
    }
    # quantized similarity within the error band of exact, pair-by-pair
    e = emb.select("vec_id", to_double_vec("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    exact_all = {
        (r.a, r.b): r.c
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("c"),
        )
        .collect()
    }
    for pair, sim_q in got_q.items():
        assert abs(sim_q - exact_all[pair]) < tol
    # decisions agree except inside the tolerance band of the threshold
    flips = set(got_q) ^ set(got_f)
    assert all(abs(exact_all[p] - thresh) < tol for p in flips)
    # pairs comfortably above threshold are found by both
    assert {p for p, s in got_f.items() if s >= thresh + tol} <= set(got_q)


def test_approx_distinct_tracks_exact(spark, sf_dir):
    """HLL++ is rows-only at the driver (no DuckDB twin): pin its
    accuracy locally — per-group estimates must sit within 5 relative
    standard deviations of the exact distinct count (rsd=0.05 default;
    5σ makes the bound deterministic-in-practice for a fixed dataset)."""
    from poormans_kube_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    est = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= max(5, 0.25 * exact[k]), (k, est[k], exact[k])


def test_label_spectral_stats_match_driver_numpy(spark, sf_dir):
    """The applyInPandas spectral operator vs the same math computed
    driver-side on the collected cell — distributed grouping must not
    change the answer."""
    import numpy as np

    from poormans_kube_etl_spark.operators.mlstats import label_spectral_stats
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r.label: r for r in label_spectral_stats(emb).collect()}
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(list(r.embedding))
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        mat = np.array(vecs, dtype="float64")
        cov = np.cov(mat, rowvar=False)
        eig = np.linalg.eigvalsh(cov)
        assert got[label].n_vectors == len(vecs)
        assert abs(got[label].top_eigenvalue - round(float(eig[-1]), 6)) < 1e-6
        assert abs(got[label].trace - round(float(np.trace(cov)), 6)) < 1e-6


def test_rolling_hashes_survive_content_shift(spark):
    """The rolling-hash property: prepending tokens shifts positions but
    leaves every interior window hash unchanged — so sampled
    fingerprints still overlap, which md5/prefix fingerprints cannot do."""
    from poormans_kube_etl_spark.operators.text import (
        ROLL_WINDOW,
        rolling_window_hashes,
        token_hash,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, "shifted prefix " + base)], "doc_id long, text string"
    )
    hashed = docs.select(
        "doc_id", F.transform(F.split("text", " "), token_hash).alias("hs")
    )
    wh = {
        r.doc_id: list(r.wh)
        for r in hashed.select(
            "doc_id", rolling_window_hashes(F.col("hs")).alias("wh")
        ).collect()
    }
    # every window of the original appears in the shifted doc's stream
    assert set(wh[1]) <= set(wh[2])
    assert len(wh[2]) == len(wh[1]) + 2  # two new boundary windows


def test_multi_probe_lsh_recall_dominates_single(spark, sf_dir):
    """Multi-probe (1-bit-flip) candidates are a superset of the
    single-bucket candidates, so recall vs brute force can only improve;
    all emitted sims must still appear in the exact ranking."""
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk, lsh_topk
    from poormans_kube_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.nn_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    single = {
        (r.query_id, r.nn_id)
        for r in lsh_topk(emb, queries, k=10, multi_probe=0).collect()
    }
    multi = {
        (r.query_id, r.nn_id)
        for r in lsh_topk(emb, queries, k=10, multi_probe=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_topk_drops_nan_sims_instead_of_ranking_them_first(spark):
    """Self-review r4: Spark sorts NaN above every real double, so a
    corrupt vector (NaN element → NaN cosine) would otherwise take
    rank 1 for EVERY query and shift all real neighbors down a slot.
    Exact top-k means top-k of the well-defined similarities."""
    rows = [(i, [float((i * 7 + j * 3) % 11 + 1) for j in range(4)]) for i in range(10)]
    rows.append((99, [float("nan"), 1.0, 1.0, 1.0]))  # corrupt vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from poormans_kube_etl_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(emb, queries, 5, dim=4).collect()
    assert len(out) == 5
    assert all(r.nn_id != 99 for r in out), "NaN-sim candidate must be dropped"
    assert all(r.sim == r.sim for r in out)  # no NaN survives
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)

    # zero-norm vectors (cosine 0/0 = NaN) get the same policy
    rows2 = rows[:10] + [(98, [0.0, 0.0, 0.0, 0.0])]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    out2 = brute_force_topk(
        emb2, queries, 20, dim=4
    ).collect()
    assert all(r.nn_id != 98 for r in out2)


def test_resolve_dim_rejects_empty_first_vector(spark):
    """Self-review r4: an empty first vector made resolve_dim return 0,
    which built unparseable SQL '(0D+)' — an opaque ParseException
    instead of a width error. Must fail loudly naming the problem."""
    import pytest

    from poormans_kube_etl_spark.operators.similarity import resolve_dim

    df = spark.createDataFrame(
        [(0, []), (1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty array"):
        resolve_dim(df, "embedding", None)


def test_kmeans_assignments_consistent_with_returned_centroids(spark):
    """Self-review r4: on a max_iter exit the in-loop assignment was one
    model behind the returned centroids — a vector could carry a label
    that is not its nearest returned centroid. The returned pair must be
    internally consistent for ANY max_iter."""
    import math

    from poormans_kube_etl_spark.operators.kmeans import kmeans_fit

    # two clear clusters, seeded so iteration 1 moves the centroids
    rows = [(i, [0.0 + i * 0.1, 0.0]) for i in range(4)]
    rows += [(10 + i, [10.0 + i * 0.1, 5.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for max_iter in (1, 2, 5):
        centroids, assigned = kmeans_fit(emb, k=2, max_iter=max_iter)
        vecs = {r.vec_id: r.embedding for r in emb.collect()}
        for r in assigned.collect():
            v = vecs[r.vec_id]
            d = [
                sum((x - y) ** 2 for x, y in zip(v, c)) for c in centroids
            ]
            assert d[r.cluster] == min(d), (
                f"max_iter={max_iter}: vec {r.vec_id} labeled {r.cluster}, "
                f"dists {d}"
            )
    assert math.isfinite(centroids[0][0])


def test_multi_probe_depth_two_expands_probe_set(spark, sf_dir):
    """Self-review r4: multi_probe was effectively boolean — any t >= 1
    probed only 1-bit flips, so t=2 silently didn't deepen recall. The
    t-bucket candidate set must now be a strict superset of t=1's, and
    with t = n_planes (all buckets probed) recall must equal exact."""
    import random

    from poormans_kube_etl_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    # seeded RANDOM corpus: buckets spread over all 2^8 values, so the
    # t=1 (9 buckets) / t=2 (37) / t=8 (256) probe sets see genuinely
    # different candidate counts (the parquet test embeddings are
    # polarized into two antipodal buckets — useless here)
    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(500)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # k > corpus size: results == the full scored candidate set, so the
    # probe-set monotonicity is visible (a small k would let new
    # candidates displace old ones in the top-k)
    big_k = 10_000
    got = {
        t: {(r.query_id, r.nn_id) for r in
            lsh_topk(emb, queries, big_k, n_planes=8, multi_probe=t, dim=16).collect()}
        for t in (1, 2, 8)
    }
    assert got[1] <= got[2] <= got[8]
    assert len(got[2]) > len(got[1])  # t=2 genuinely probes deeper
    exact = {
        (r.query_id, r.nn_id)
        for r in brute_force_topk(emb, queries, big_k, dim=16).collect()
    }
    # t = n_planes probes every bucket -> identical to brute force
    assert got[8] == exact


def test_hyperplanes_are_distinct(spark):
    """Self-review r4 (root cause of the probe-depth test failure): a
    two-parameter transform lambda ('lambda j, p=p') binds its SECOND
    argument to the array INDEX in pyspark, silently shadowing the
    captured plane number — every hyperplane came out IDENTICAL, so
    16-plane LSH was secretly 1-plane and all vectors fell into two
    antipodal buckets (no candidate pruning at any scale). Planes must
    be pairwise distinct and components symmetric in [-1, 1]."""
    from poormans_kube_etl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(spark, 8, 16)
    assert len({tuple(p) for p in planes}) == 8, "hyperplanes must differ"
    flat = [x for p in planes for x in p]
    # Gaussian components (rotation-invariant SRP): roughly centered,
    # both signs present, no degenerate constants
    assert any(x > 0 for x in flat) and any(x < 0 for x in flat)
    assert abs(sum(flat) / len(flat)) < 0.5
    assert len(set(flat)) > 100


def test_srp_banding_planner_properties():
    """The banding planner must honor its contract: background collision
    rate within budget, plane budget respected, and band counts that
    shrink as the threshold rises (easier separation -> cheaper plan)."""
    import math

    from poormans_kube_etl_spark.operators.similarity import srp_banding

    def bg_rate(r, b, bg_sim=0.0):
        p2 = 1 - math.acos(bg_sim) / math.pi
        return 1 - (1 - p2**r) ** b

    plans = {t: srp_banding(t) for t in (0.4, 0.7, 0.8, 0.9, 0.95)}
    for t, (r, b) in plans.items():
        assert r * b <= 512, f"plane budget blown at {t}: {r}x{b}"
        assert bg_rate(r, b) <= 1e-3, f"bg budget blown at {t}"
    # easier thresholds need no more planes than harder ones
    planes = {t: r * b for t, (r, b) in plans.items()}
    assert planes[0.95] <= planes[0.9] <= planes[0.8]
    # the near-dup regime achieves the recall target uncapped
    r, b = plans[0.9]
    p1 = (1 - math.acos(0.9) / math.pi) ** r
    assert 1 - (1 - p1) ** b >= 0.9


def test_srp_banding_is_corpus_size_aware():
    """The r5 scale fix: with ``n_vectors``, expected BACKGROUND
    candidates per vector must stay bounded (~bg_per_vec) at every
    corpus size — the rate-only plan held the per-PAIR rate constant,
    so candidates grew as N² (measured: 8e6 background pairs and 27×
    the sf1 runtime at 200k vectors). Planes per band must grow with
    log2(N); small corpora must keep the legacy plan unchanged."""
    import math

    from poormans_kube_etl_spark.operators.similarity import srp_banding

    def bg_per_vec(r, b, n):
        return (1 - (1 - 0.5**r) ** b) * (n - 1)

    prev_r = 0
    for n in (2_050, 20_500, 200_050, 2_000_000, 1_000_000_000):
        r, b = srp_banding(0.9, n_vectors=n, max_planes=1024)
        assert r * b <= 1024, f"plane budget blown at N={n}: {r}x{b}"
        # slack 1.5x: the planner quantizes r to integers
        assert bg_per_vec(r, b, n) <= 2.0 * 1.5, f"bg/vec blown at N={n}"
        assert r >= prev_r, f"planes-per-band must not shrink as N grows"
        prev_r = r
        # far-above-threshold near-dups survive even the capped plans:
        # the planted-dup regime (cos ~0.999) keeps per-band match
        # rates high where threshold-level recall degrades
        p_dup = (1 - math.acos(0.999) / math.pi) ** r
        assert 1 - (1 - p_dup) ** b >= 0.99, f"planted recall lost at N={n}"
    # a corpus small enough that the per-vector cap is looser than the
    # default rate cap plans EXACTLY like the legacy call — the
    # correctness sweep's sf0.01/sf0.1 pair sets must not move
    assert srp_banding(0.9, n_vectors=2_050, max_planes=1024) == srp_banding(0.9)


def test_embedding_lsh_recall_on_planted_near_dups(spark):
    """The property the whole LSH dedup path exists for: on a corpus
    with PLANTED near-duplicates (cos >= ~0.95) over a random
    background, the geometry-planned banding at threshold 0.9 must
    recover >= 90% of the planted pairs with candidates that are a tiny
    fraction of all pairs — the pre-r4 fixed (8,8) banding admitted ~3%
    of ALL pairs (quadratic verify at scale), and the pre-fix identical
    hyperplanes degenerated to two buckets."""
    import random

    from poormans_kube_etl_spark.operators.similarity import (
        embedding_lsh_candidate_pairs,
        embedding_near_pairs_lsh,
        srp_banding,
    )

    rng = random.Random(5)
    dim, n_bg, n_planted = 32, 400, 40
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n_bg)]
    planted = []
    for j in range(n_planted):
        base = rows[j][1]
        noisy = [x + rng.gauss(0, 0.08) for x in base]  # cos ~ 0.97
        rows.append((1000 + j, noisy))
        planted.append((rows[j][0], 1000 + j))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.a, r.b)
        for r in embedding_near_pairs_lsh(emb, threshold=0.9, dim=dim).collect()
    }
    found = sum(1 for p in planted if p in got)
    assert found >= 0.9 * n_planted, f"recall {found}/{n_planted}"

    ppb, bands = srp_banding(0.9)
    n_cand = embedding_lsh_candidate_pairs(emb, bands, ppb, dim=dim).count()
    total_pairs = (n_bg + n_planted) * (n_bg + n_planted - 1) // 2
    assert n_cand <= 0.02 * total_pairs, (
        f"candidates {n_cand} not a tiny fraction of {total_pairs}"
    )


def test_multimodal_decode_rejects_null_payload_naming_ids(spark):
    """Self-review r4: a NULL binary payload crashed the batch loop with
    an opaque TypeError (and diverged from the SQL oracle, which emits a
    NULL-featured row). Must fail naming the offending ids."""
    import pytest

    from poormans_kube_etl_spark.operators.multimodal import decode_image_features

    df = spark.createDataFrame(
        [(1, bytearray(b"ok")), (2, None)], "doc_id long, content binary"
    )
    with pytest.raises(Exception, match="NULL 'content' payload for doc_id=\\[2\\]"):
        decode_image_features(df).collect()


def test_exploded_shingle_hashes_matches_string_shingles(spark):
    """r5 fast path: hashed shingles must agree with the string-shingle
    path on everything the pipeline consumes — per-doc distinct-shingle
    counts (exact-Jaccard inputs), including the short-doc degenerate
    whole-document shingle, and set equality/difference STRUCTURE across
    docs (shared shingles hash equal, distinct shingles hash distinct on
    this corpus)."""
    from pyspark.sql import functions as F

    from poormans_kube_etl_spark.operators.minhash import (
        exploded_shingle_hashes,
        exploded_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),  # near-dup of 1
            (3, "completely different text entirely here now"),
            (4, "tiny doc"),          # < n tokens -> whole-doc shingle
            (5, "tiny doc"),          # exact dup of 4
        ],
        "doc_id int, text string",
    )
    s_str = exploded_shingles(docs, "doc_id", "text", 3)
    s_hash = exploded_shingle_hashes(docs, "doc_id", "text", 3)
    cnt_str = {r["doc_id"]: r["n"] for r in
               s_str.groupBy("doc_id").agg(F.countDistinct("shingle").alias("n")).collect()}
    cnt_hash = {r["doc_id"]: r["n"] for r in
                s_hash.groupBy("doc_id").agg(F.countDistinct("h0").alias("n")).collect()}
    assert cnt_str == cnt_hash, (cnt_str, cnt_hash)
    # pairwise intersection sizes must match: shared string shingles
    # must map to shared hashes (Jaccard preservation)
    def inters(df, col):
        a = df.select(F.col("doc_id").alias("a"), F.col(col).alias("v"))
        b = df.select(F.col("doc_id").alias("b"), F.col(col).alias("v"))
        return {(r["a"], r["b"]): r["n"] for r in
                a.join(b, "v").where("a < b").groupBy("a", "b")
                 .agg(F.countDistinct("v").alias("n")).collect()}
    assert inters(s_str, "shingle") == inters(s_hash, "h0")


def test_label_centroids_null_and_ragged_vectors(spark):
    """r5 review: the wide-aggregate rewrite initially divided by
    count(*) of ALL rows, so NULL embedding vectors silently shrank
    every centroid toward zero (the posexplode form excluded them), and
    ragged vectors ANSI-crashed with a bare INVALID_ARRAY_INDEX. NULLs
    must be excluded from both sums and counts; ragged widths must fail
    loudly with the module's named width error."""
    import pytest

    from poormans_kube_etl_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", None), ("b", [4.0, 6.0])],
        "label string, embedding array<double>",
    )
    got = {r["label"]: r["centroid"] for r in label_centroids(df).collect()}
    assert got["a"] == [1.0, 2.0], got["a"]  # NULL row contributes nothing
    assert got["b"] == [4.0, 6.0]
    ragged = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0])],
        "label string, embedding array<double>",
    )
    with pytest.raises(Exception, match="expected 2-dim vector"):
        label_centroids(ragged).collect()


# ---- r7 self-review: LSH hardening (shared bucket expansion + guards) ----


def test_lsh_banding_rejects_out_of_range_slice(spark):
    """r7 review: bands x rows_per_band past the signature width used to
    slice an EMPTY array whose xxhash64 is one constant — every doc
    landed in ONE bucket per overrun band, silently degenerating the
    candidate set toward all-pairs. Must raise, loudly and named."""
    import pytest

    from poormans_kube_etl_spark.operators.minhash import (
        exploded_shingle_hashes,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    signed = minhash_signatures(
        exploded_shingle_hashes(docs, "doc_id", "text", 3), "doc_id", 32
    )
    # in-range banding still works (8 x 4 = 32)
    lsh_candidate_pairs(signed, "doc_id", 8, 4).collect()
    with pytest.raises(Exception, match="lsh banding out of range"):
        lsh_candidate_pairs(signed, "doc_id", 8, 8).collect()


def test_minhash_near_duplicates_rejects_ragged_banding(spark):
    """The divisibility check is a raise, not an assert (asserts vanish
    under python -O)."""
    import pytest

    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_near_duplicates(docs, num_hashes=32, bands=5)


def test_embedding_lsh_duplicate_ids_emit_no_self_pairs(spark):
    """r7 review: the bucket aggregate used collect_list, so a repeated
    vec_id (double-loaded partition, upsert artifact) became an (a, a)
    self-pair — an edge downstream connected-components consumers treat
    as real. collect_set (shared bucket_member_pairs) defends."""
    import random

    from poormans_kube_etl_spark.operators.similarity import (
        embedding_lsh_candidate_pairs,
    )

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(6)]
    rows.append((3, [rng.gauss(0, 1) for _ in range(8)]))  # duplicate id
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_lsh_candidate_pairs(
        emb, bands=4, planes_per_band=2, dim=8
    ).collect()
    assert [(r.a, r.b) for r in pairs if r.a == r.b] == []


def test_embedding_lsh_star_generate_projects_array_away(spark):
    """r7 review plan gate, re-pinned for the r13 single-generator
    expansion: the bucket array must be consumed INSIDE the Generate's
    expression (both the all-pairs and star regimes of the CASE WHEN)
    and never carried on generated rows — a Project above the explode
    referencing the array re-creates the O(n^2)-bytes shape the cap
    exists to prevent (the measured simhash OOM at 10k-member
    buckets). The r13 merge also pins that there is exactly ONE
    Generate: the old all-pairs/star branch split executed the whole
    upstream pipeline (GEMM + bucket aggregate) once per branch."""
    import random

    from poormans_kube_etl_spark.operators.similarity import (
        embedding_lsh_candidate_pairs,
    )

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_lsh_candidate_pairs(
        emb, bands=2, planes_per_band=1, dim=8, max_bucket=3
    )
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gens = [i for i, ln in enumerate(lines) if "Generate explode(" in ln]
    assert len(gens) == 1, f"expected ONE conditional generator, got {len(gens)}"
    gen_line = lines[gens[0]]
    assert "CASE WHEN" in gen_line, "conditional two-regime expansion missing"
    # ancestors of the Generate (printed above it) must not reference
    # the bucket array: generated rows carry only the bare pair struct
    assert not any("vids" in ln for ln in lines[: gens[0]]), lines[: gens[0]]
    # and the trade still holds semantically: no self pairs, a < b
    rows = pairs.collect()
    assert all(r.a < r.b for r in rows)


def test_oversized_bucket_star_expansion_stays_lazy(spark):
    """ADVICE r13: the hot-bucket memory guard rests on CaseWhen
    evaluating its branches LAZILY — an oversized bucket must never
    build its O(n²) all-pairs array. Pin it with a genuinely oversized
    bucket: 20k members would flatten to ~2·10^8 pair structs (multiple
    GB in ONE array value) if an engine change hoisted the all-pairs
    branch out of the CASE WHEN; the star regime emits n-1 rows in
    milliseconds. A regression fails loudly (OOM/timeout) instead of
    silently — exactly the failure mode the guard exists to prevent."""
    from poormans_kube_etl_spark.operators.buckets import bucket_member_pairs

    n = 20_000
    df = spark.range(1).select(
        F.sequence(F.lit(0).cast("long"), F.lit(n - 1).cast("long")).alias(
            "members"
        )
    )
    out = bucket_member_pairs(df, "members", max_bucket=256)
    assert out.count() == n - 1  # star: every member linked to min id
    rows = out.limit(5).collect()
    assert all(r.a == 0 and r.b > 0 for r in rows)


def test_plane_count_guards_reject_int64_overflow(spark):
    """r7 review: numpy's 1<<64 wraps to 0, so planes past 64 silently
    stopped contributing to the bucket bit-pack — vectors differing
    only there shared buckets with no error."""
    import pytest

    from poormans_kube_etl_spark.operators.similarity import (
        embedding_lsh_candidate_pairs,
        random_hyperplane_buckets,
    )

    emb = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="1..64"):
        random_hyperplane_buckets(emb, n_planes=65, dim=8)
    with pytest.raises(ValueError, match="1..64"):
        embedding_lsh_candidate_pairs(emb, bands=2, planes_per_band=65, dim=8)


def test_srp_banding_rejects_unreachable_recall():
    """r7 review: target_recall=1.0 crashed with a bare 'math domain
    error' (log1p(-1)); the planner now names the parameter."""
    import pytest

    from poormans_kube_etl_spark.operators.similarity import srp_banding

    for bad in (1.0, 0.0, 1.5, -0.1):
        with pytest.raises(ValueError, match="target_recall"):
            srp_banding(0.9, target_recall=bad)


# ---- r7 self-review: asof NULL/tie semantics, MERGE source keys, ----
# ---- simhash degenerate blocking, chunk tail coverage             ----


def test_asof_null_timestamps_follow_sql_semantics(spark):
    """r7 review: a NULL-ts right row used to sort NULLS-FIRST in the
    backward window and act as a -infinity universal match; a NULL-ts
    left row used to pick up the earliest right row in the forward
    direction. SQL three-valued logic says NULL satisfies neither
    <= nor >= — no match, either side, either direction."""
    from poormans_kube_etl_spark.operators.asof import (
        asof_join_backward,
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:50"), (2, 1, None)],
        "lid long, k long, lts string",
    ).selectExpr("lid", "k", "cast(lts as timestamp) as lts")
    right = spark.createDataFrame(
        [(1, None, 111), (1, "2024-01-01 00:01:40", 222)],
        "k long, rts string, payload long",
    ).selectExpr("k", "cast(rts as timestamp) as rts", "payload")

    back = {r.lid: r.payload for r in
            asof_join_backward(left, right, ["k"], "lts", "rts", ["payload"]).collect()}
    # lid 1 at :50 has no right row <= :50 (the NULL-ts row is NOT -inf)
    assert back == {1: None, 2: None}
    fwd = {r.lid: r.payload for r in
           asof_join_forward(left, right, ["k"], "lts", "rts", ["payload"]).collect()}
    # lid 1 matches :01:40 forward; the NULL-ts LEFT row matches nothing
    assert fwd == {1: 222, 2: None}


def test_asof_tied_right_rows_pick_deterministically(spark):
    """r7 review: two right rows at identical (key, ts) used to resolve
    by partition order — the pick is arbitrary but must be STABLE
    across reruns and repartitionings (the repo determinism gate)."""
    from poormans_kube_etl_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:01:00")], "lid long, k long, lts string"
    ).selectExpr("lid", "k", "cast(lts as timestamp) as lts")
    rows = [(1, "2024-01-01 00:00:30", v) for v in (101, 202, 303)]
    picks = set()
    for n_part in (1, 3, 7):
        right = (
            spark.createDataFrame(rows, "k long, rts string, payload long")
            .selectExpr("k", "cast(rts as timestamp) as rts", "payload")
            .repartition(n_part)
        )
        got = asof_join_backward(
            left, right, ["k"], "lts", "rts", ["payload"]
        ).collect()
        picks.add(got[0].payload)
    assert len(picks) == 1, f"tie pick varies with partitioning: {picks}"


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    """r7 review: MERGE forbids ambiguous source matches — a repeated
    key in the delta used to fan out through the full-outer join into
    silent duplicate primary keys that COMPOUND on the next merge."""
    import pytest

    from poormans_kube_etl_spark.operators.upsert import merge_into

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10)], "k long, v long").write.parquet(path)
    dup = spark.createDataFrame([(1, 11), (1, 12)], "k long, v long")
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_into(spark, path, dup, keys=["k"])
    # target untouched by the rejected merge
    assert [(r.k, r.v) for r in spark.read.parquet(path).collect()] == [(1, 10)]
    # the escape hatch for pre-deduped deltas skips the extra job
    ok = spark.createDataFrame([(1, 11)], "k long, v long")
    merge_into(spark, path, ok, keys=["k"], assume_unique_keys=True)
    assert [(r.k, r.v) for r in spark.read.parquet(path).collect()] == [(1, 11)]


def test_simhash_buckets_rejects_degenerate_blocking(spark):
    """r7 review: blocking=(m, 0) passed validation then crashed with a
    bare IndexError; m past the fingerprint width made zero-width spans
    whose combo keys collapse to constants (one global bucket)."""
    import pytest

    from poormans_kube_etl_spark.operators.simhash import simhash_buckets

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="1 <= t <= m"):
        simhash_buckets(docs, blocking=(5, 0))
    with pytest.raises(ValueError, match="1 <= t <= m"):
        simhash_buckets(docs, blocking=(70, 2))


def test_train_chunks_cover_every_token(spark, monkeypatch, tmp_path):
    """r7 review: the bare stride grid dropped up to stride-1 trailing
    tokens of every off-grid document (a 40-token doc lost tokens
    33-40) — systematic tail amnesia for a corpus chunker. The final
    window must always reach the document end."""
    from poormans_kube_etl_spark.queries.training_pipeline import (
        train_chunk_documents,
    )

    text = " ".join(f"tok{i:02d}" for i in range(40))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    chunks = train_chunk_documents(spark, sf).collect()
    starts = sorted(c.chunk_start for c in chunks)
    assert starts == [0, 8]  # grid start + appended tail start (40-32)
    covered = set()
    for c in chunks:
        covered.update(range(c.chunk_start, c.chunk_start + c.chunk_len))
    assert covered == set(range(40))
    assert chunks[-1].chunk_text.split(" ")[-1] == "tok39"


def test_jvm_frame_sampler_raises_on_null_payload(spark):
    """r7 review: octet_length(NULL) > 0 is NULL, so the JVM sampler
    silently dropped NULL-payload rows while its documented
    byte-identical Python twin fails the task loudly — the samplers
    diverged on exactly the input class the null-check exists for."""
    import pytest

    from poormans_kube_etl_spark.operators.multimodal import sample_frames_jvm

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, None)], "doc_id long, content binary"
    )
    with pytest.raises(Exception, match="NULL 'content' payload"):
        sample_frames_jvm(df, frame_size=4, every_k=1).collect()


def test_ref_p7_defaults_for_user_without_purchases(spark, tmp_path):
    """r7 review (confirmed live): under ANSI, element_at on the empty
    filtered array RAISED instead of taking the advertised -1.0
    default — a single purchase-less user killed the job; shipped
    testdata passes only because every user has a purchase."""
    from poormans_kube_etl_spark.queries.reference_ops import (
        ref_p7_array_struct_probe,
    )

    spark.createDataFrame(
        [(1, 10, "purchase", 5.0), (2, 20, "view", 1.0)],
        "event_id long, user_id long, event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: (r.first_purchase_value, r.purchase_cnt)
           for r in ref_p7_array_struct_probe(spark, str(tmp_path)).collect()}
    assert got == {10: (5.0, 1), 20: (-1.0, 0)}


def test_min_by_struct_tiebreak_is_deterministic(spark, tmp_path):
    """r7 review: extremal (priority, price) ties exist in the data, and
    bare-price min_by/arg_max left the pick to each engine. The struct
    ordering pins min-price -> min key and max-price -> max key."""
    from poormans_kube_etl_spark.queries.extended import agg_min_by_max_by

    spark.createDataFrame(
        [(1, "1-URGENT", 10.0), (2, "1-URGENT", 10.0),
         (9, "1-URGENT", 99.0), (7, "1-URGENT", 99.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    row = agg_min_by_max_by(spark, str(tmp_path)).collect()[0]
    assert (row.cheapest_order, row.priciest_order) == (1, 9)


def test_global_cumsum_matches_naive_window_with_nulls(spark):
    """r7 review: the two-pass prefix sum returned NULL for any row
    whose LOCAL range-partition prefix was all-NULL even when earlier
    partitions carried values — SQL running sums are NULL only until
    the first non-null value ANYWHERE before."""
    from pyspark.sql import Window

    from poormans_kube_etl_spark.operators.ordering import with_global_order

    rows = [(1, 10), (2, None), (3, None), (4, 5), (5, None), (6, 1)]
    # leading NULLs too: rows before any value must stay NULL
    rows = [(0, None)] + rows
    df = spark.createDataFrame(rows, "k long, v long")
    naive = {
        r.k: r.cum
        for r in df.select(
            "k", F.sum("v").over(Window.orderBy("k")).alias("cum")
        ).collect()
    }
    got = {
        r.k: r.cum
        for r in with_global_order(
            df, [F.col("k")], cumsum={"v": "cum"}, num_partitions=4
        ).collect()
    }
    assert got == naive


def test_asof_join_accepts_map_typed_payload(spark):
    """r7 follow-up: the determinism tiebreak hashes the payload struct,
    but Spark's hash expressions reject MapType — map payload fields are
    excluded from the hash so the operator keeps accepting them."""
    from poormans_kube_etl_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:01:00")], "lid long, k long, lts string"
    ).selectExpr("lid", "k", "cast(lts as timestamp) as lts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:30", {"a": "x"}, 7)],
        "k long, rts string, attrs map<string,string>, v long",
    ).selectExpr("k", "cast(rts as timestamp) as rts", "attrs", "v")
    got = asof_join_backward(
        left, right, ["k"], "lts", "rts", ["attrs", "v"]
    ).collect()
    assert got[0].v == 7 and got[0].attrs == {"a": "x"}


def test_real_decode_png_geometry_and_contract(spark):
    """VERDICT r7 #3 'done' criterion: decode a REAL PNG generated
    in-test and pin the (width, height, channels, mean_byte) contract
    shared with the stub codec. Runs wherever Pillow exists (the deploy
    image installs it); skips in the codec-less dev container."""
    import pytest

    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from poormans_kube_etl_spark.operators.multimodal import (
        decode_image_features,
        real_decode_image,
    )

    img = Image.new("RGB", (20, 10), (10, 20, 30))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    data = buf.getvalue()
    w, h, c, mean = real_decode_image(data)
    assert (w, h, c) == (20, 10, 3)
    assert abs(mean - 20.0) < 1e-6  # constant color: (10+20+30)/3
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, content binary"
    )
    row = decode_image_features(df, real=True).collect()[0]
    assert (row.width, row.height, row.channels) == (20, 10, 3)
    assert row.n_bytes == len(data)
    assert abs(row.mean_byte - 20.0) < 1e-6


def test_real_decode_requested_without_pillow_fails_at_plan_time(spark):
    """real=True must fail when the plan is BUILT, naming Pillow — not
    as an opaque task error on an executor mid-batch."""
    import pytest

    from poormans_kube_etl_spark.operators import multimodal

    if multimodal.HAS_PIL:
        pytest.skip("Pillow installed: the guard path is inert here")
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal.decode_image_features(
            spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, content binary"),
            real=True,
        )


def _live_minhash_delta(new, corpus, threshold, max_bucket=256):
    """The MinHash probe over a live (unwritten) index of ``corpus``,
    with the xxhash64 banding the self-dedup operator defaults to."""
    from poormans_kube_etl_spark.operators.index_artifact import live_index
    from poormans_kube_etl_spark.operators.minhash_index import (
        MINHASH_FAMILY,
        minhash_incremental_near_duplicates_indexed,
    )

    idx = live_index(
        MINHASH_FAMILY,
        corpus,
        {
            "id_col": "doc_id",
            "text_col": "text",
            "shingle_len": 3,
            "num_hashes": 32,
            "bands": 8,
            "hash_family": "xxhash64",
            "max_bucket": max_bucket,
        },
    )
    return minhash_incremental_near_duplicates_indexed(new, idx, threshold=threshold)


def test_minhash_incremental_pairs_cross_side_only(spark):
    """r8 incremental dedup law: new-vs-corpus near-dups surface; a
    near-dup pair WITHIN the new batch must not (self-dedup on the
    delta owns those), and disjoint docs never pair."""
    dup_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    dup_b = "entirely different content about spark shuffle partitions " * 4
    corpus = spark.createDataFrame(
        [(1, dup_a), (2, dup_b), (3, "unrelated text with nothing shared " * 4)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, dup_a), (11, dup_a), (12, "novel never seen before words " * 4)],
        "doc_id long, text string",
    )
    pairs = {
        (r.a, r.b)
        for r in _live_minhash_delta(new, corpus, threshold=0.9).collect()
    }
    # both new copies of dup_a pair with corpus doc 1; the new-vs-new
    # (10, 11) duplicate and the never-duplicated docs are absent
    assert pairs == {(10, 1), (11, 1)}


def test_minhash_incremental_hot_band_guard(spark):
    """r8 review: a boilerplate band shared by more corpus docs than
    max_bucket must be dropped from the corpus side (winnowing 'stop
    hash' discipline) — without the guard, one hot band fans every
    matching delta doc out across the whole bucket. Identical docs
    share EVERY band, so with a sub-bucket cap no pair survives; a
    roomier cap restores them."""
    text = "shared boilerplate header repeated across the whole corpus " * 3
    corpus = spark.createDataFrame(
        [(i, text) for i in range(1, 9)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(100, text)], "doc_id long, text string")
    capped = _live_minhash_delta(new, corpus, threshold=0.9, max_bucket=4).count()
    assert capped == 0  # every band bucket holds 8 > 4 corpus docs
    roomy = _live_minhash_delta(new, corpus, threshold=0.9, max_bucket=256).count()
    assert roomy == 8  # the cap was the only thing suppressing them


def test_incremental_equals_cross_side_of_self_dedup(spark):
    """Consistency law tying the two dedup shapes together: for the same
    banding and hash family (and no star/hot-band guard engaged),
    incremental(new, corpus) must emit exactly the cross-side subset of
    self-dedup(new ∪ corpus) — same pairs, same jaccard values."""
    from poormans_kube_etl_spark.operators.minhash import minhash_near_duplicates

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta " * 3,
        2: "alpha beta gamma delta epsilon zeta eta theta " * 3 + "iota",
        3: "one two three four five six seven eight nine ten " * 3,
        4: "completely different content nothing shared here at all " * 3,
        5: "one two three four five six seven eight nine ten " * 3 + "eleven",
        6: "alpha beta gamma delta epsilon zeta eta theta " * 3 + "kappa",
    }
    all_docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    new = all_docs.where("doc_id % 3 = 0")  # {3, 6}
    corpus = all_docs.where("doc_id % 3 <> 0")  # {1, 2, 4, 5}
    self_pairs = {
        frozenset((r.a, r.b)): r.jaccard
        for r in minhash_near_duplicates(all_docs, threshold=0.3).collect()
    }
    new_ids = {3, 6}
    cross = {
        k: v
        for k, v in self_pairs.items()
        if len(k & new_ids) == 1  # exactly one side in the new batch
    }
    inc = {
        frozenset((r.a, r.b)): r.jaccard
        for r in _live_minhash_delta(new, corpus, threshold=0.3).collect()
    }
    assert inc == cross and len(inc) > 0


# ---------------------------------------------------------------------------
# r9 (late session): containment / novelty / overlap / streaks / MAD
# ---------------------------------------------------------------------------


def test_containment_detects_subset_doc(spark):
    """Drive the REGISTERED query on a planted subset: the short doc
    fully embedded in a long one emits containment(short→long) = 1.0,
    the reverse direction falls below the 0.5 threshold and is absent —
    and symmetric Jaccard on the same pair is far below any dedup
    threshold, which is the operator's whole point."""
    import os
    import tempfile

    from poormans_kube_etl_spark.operators.minhash import (
        exact_jaccard,
        exploded_shingles,
    )
    from poormans_kube_etl_spark.queries import all_queries

    quote = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens = 3 5-grams
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, f"{filler} {quote} {filler}", "en", "s0", 300),
        (1, quote, "en", "s0", len(quote)),
    ]
    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        )
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            (r.a, r.b): r.containment
            for r in all_queries()["dedup_containment_pairs"](spark, d).collect()
        }
    assert got == {(1, 0): 1.0}  # quote→host only; host→quote < 0.5 dropped
    # symmetric Jaccard would have missed the pair entirely
    ex = exploded_shingles(docs, "doc_id", "text", 5).withColumnRenamed("shingle", "s")
    shingled = ex.groupBy("doc_id").agg(F.collect_set("s").alias("shingles"))
    pairs = spark.createDataFrame([(0, 1)], ["a", "b"])
    jac = exact_jaccard(pairs, shingled, "doc_id").collect()[0].jaccard
    assert jac < 0.1


def test_ngram_novelty_copy_scores_zero(spark):
    """An exact copy of an earlier doc has novelty 0 (every gram's
    first occurrence is the original); the original keeps 1.0."""
    from poormans_kube_etl_spark.queries import all_queries
    import os
    import tempfile

    text = " ".join(f"t{i}" for i in range(20))
    other = " ".join(f"u{i}" for i in range(20))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, text, "en", "s0", len(text)), (7, text, "en", "s1", len(text)),
             (3, other, "en", "s0", len(other))],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r.doc_id: r
            for r in all_queries()["text_ngram_novelty"](spark, d).collect()
        }
    assert rows[0].novelty == 1.0
    assert rows[7].novelty == 0.0  # the copy: min(doc_id) arbitration
    assert rows[3].novelty == 1.0
    assert rows[0].n_grams == 16  # 20 tokens -> 16 distinct 5-grams


def test_source_overlap_matrix_identical_sources(spark):
    """Two sources with the same text share every gram (coef 1.0); a
    disjoint third source never appears in the matrix (inner join)."""
    from poormans_kube_etl_spark.queries import all_queries
    import os
    import tempfile

    text = " ".join(f"t{i}" for i in range(20))
    other = " ".join(f"u{i}" for i in range(20))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, text, "en", "sA", len(text)), (1, text, "en", "sB", len(text)),
             (2, other, "en", "sC", len(other))],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        rows = all_queries()["text_source_overlap_matrix"](spark, d).collect()
    assert [(r.source_a, r.source_b) for r in rows] == [("sA", "sB")]
    assert rows[0].shared_grams == 16 and rows[0].overlap_coef == 1.0


def test_gaps_islands_streaks_split_on_gap(spark):
    """Days 1,2,3 then 5,6 then 9 → streaks (3,2,1); multiple events on
    one day collapse (the distinct) and cross-user days don't merge."""
    import datetime as dt

    from poormans_kube_etl_spark.queries.windows_extra import (
        window_gaps_islands_user_streaks,
    )
    import os
    import tempfile

    def ts(day, h=0):
        return dt.datetime(2024, 1, day, h, 0, 0)

    rows = [
        (i, ts(d, h), 1, "view", 1.0, "{}")
        for i, (d, h) in enumerate([(1, 0), (1, 5), (2, 1), (3, 2), (5, 0), (6, 3), (9, 9)])
    ] + [(99, ts(4), 2, "view", 1.0, "{}")]  # user 2 active on the gap day
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {r.user_id: r for r in window_gaps_islands_user_streaks(spark, d).collect()}
    assert got[1].n_streaks == 3
    assert got[1].longest_streak == 3
    assert got[1].active_days == 6
    assert got[2].n_streaks == 1 and got[2].active_days == 1


def test_mad_outliers_robust_to_single_monster_doc(spark):
    """One enormous doc inside a tight cluster: MAD flags exactly it,
    and the median/MAD stats barely move (the robustness property a
    mean/stddev gate lacks)."""
    from poormans_kube_etl_spark.queries.data_quality import (
        dq_mad_doc_length_outliers,
    )
    import os
    import tempfile

    lens = [100, 102, 98, 101, 99, 103, 97, 100, 102, 5_000_000]
    rows = [
        (i, "x", "en", "srcZ", n) for i, n in enumerate(lens)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        r = dq_mad_doc_length_outliers(spark, d).collect()[0]
    assert r.n_docs == 10
    assert r.n_outliers == 1  # only the monster
    assert r.median_chars == 100.5  # half-integer exact, unmoved by it
    assert r.mad_chars <= 3


def test_bm25_ranks_term_dense_doc_first(spark):
    """BM25 sanity on a constructed corpus: the doc saturated with the
    query's terms ranks 1, a doc sharing one term ranks below it, and a
    doc with no query terms never appears; scores are non-increasing
    down the ranking."""
    from poormans_kube_etl_spark.queries import all_queries
    import os
    import tempfile

    rows = [
        (0, "stream batch window stream batch window stream", "en", "s0", 40),
        (1, "stream foo bar baz qux quux corge grault", "en", "s0", 40),
        (2, "totally unrelated words only here", "en", "s0", 30),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = all_queries()["text_bm25_topk"](spark, d).collect()
    q0 = [r for r in got if r.query_id == 0]  # "stream batch window"
    assert [r.doc_id for r in q0] == [0, 1]  # doc 2 matches nothing
    assert q0[0].score > q0[1].score
    assert [r.rank for r in q0] == [1, 2]
    for rows_q in ({r.query_id for r in got}):
        qr = [r.score for r in got if r.query_id == rows_q]
        assert qr == sorted(qr, reverse=True)


def test_markov_stationary_matches_analytic_two_state(spark):
    """Constructed 2-state chain P(a→a)=.5, P(a→b)=.5, P(b→a)=1 has the
    analytic stationary distribution (2/3, 1/3); 20 power iterations
    from uniform land within (1/2)^20 of it. Event sequence b,a,a,b,a
    realizes exactly those transition counts (aa=1, ab=1, ba=2)."""
    import datetime as dt
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.analytics import events_markov_stationary

    seq = ["b", "a", "a", "b", "a"]
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, i), 1, s, 1.0, "{}")
        for i, s in enumerate(seq)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {r.state: r for r in events_markov_stationary(spark, d).collect()}
    assert abs(got["a"].pi - 2 / 3) < 1e-4
    assert abs(got["b"].pi - 1 / 3) < 1e-4
    assert got["a"].n_out == 2 and got["b"].n_out == 2
    assert abs(got["a"].pi + got["b"].pi - 1.0) < 1e-9


def test_cusum_matches_hand_computed_series(spark):
    """Hourly counts [10,10,40,10,10] (mean 16): CUSUM −6,−12,12,6,0 —
    hand-checkable arithmetic, and the final value returns to ~0 (the
    telescoping invariant). +0.0 emission means no signed zero ever
    escapes (Spark round → +0.0, DuckDB → −0.0; the driver hash would
    see different floats)."""
    import datetime as dt
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.analytics import events_cusum_changepoints

    rows = []
    eid = 0
    for hour, n in enumerate([10, 10, 40, 10, 10]):
        for j in range(n):
            rows.append(
                (eid, dt.datetime(2024, 1, 1, hour, j % 60), 1, "view", 1.0, "{}")
            )
            eid += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = events_cusum_changepoints(spark, d).collect()
    assert [r.cusum for r in got] == [-6.0, -12.0, 12.0, 6.0, 0.0]
    assert all(str(r.cusum)[0] != "-" or r.cusum != 0.0 for r in got)  # no -0.0


def test_winsorize_clips_exactly_the_tails(spark):
    """n_chars 0..20 in one source: exact p05=1, p95=19, so exactly the
    two extreme docs clip and every interior value is untouched."""
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.corpus_cleanup import clean_winsorize_lengths

    rows = [(i, "x", "en", "s0", i) for i in range(21)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in clean_winsorize_lengths(spark, d).collect()}
    assert got[0].clipped == 1.0 and got[0].was_clipped
    assert got[20].clipped == 19.0 and got[20].was_clipped
    assert sum(r.was_clipped for r in got.values()) == 2
    assert all(got[i].clipped == float(i) for i in range(1, 20))


def test_oov_rate_vocab_boundary_is_deterministic(spark):
    """41 distinct tokens, w00 doubled: the top-40 vocab keeps w00 (c=2)
    plus w01..w39 (count ties break on the token string), leaving
    exactly w40 out-of-vocabulary."""
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.text_analysis import (
        text_oov_rate_topk_vocab,
    )

    text = " ".join([f"w{i:02d}" for i in range(41)] + ["w00"])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, text, "en", "s0", len(text))],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        r = text_oov_rate_topk_vocab(spark, d).collect()[0]
    assert r.n_tokens == 42
    assert r.n_oov == 1  # only w40 misses the 40-entry vocab
    assert abs(r.oov_rate - 1 / 42) < 1e-12


def test_zipf_slope_matches_closed_form_ols(spark):
    """Token counts 4/2/1 → points (ln r, ln c) for r=1..3; the slope
    must equal the closed-form OLS estimate."""
    import math
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.text_analysis import text_zipf_slope

    text = " ".join(["a"] * 4 + ["b"] * 2 + ["c"])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, text, "en", "s0", len(text))],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        r = text_zipf_slope(spark, d).collect()[0]
    xs = [math.log(i) for i in (1, 2, 3)]
    ys = [math.log(c) for c in (4, 2, 1)]
    mx, my = sum(xs) / 3, sum(ys) / 3
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert r.n_terms == 3
    assert abs(r.zipf_slope - round(slope, 6)) <= 1e-6
    assert r.zipf_slope < -1.0  # steeper than Zipf's -1 for this toy corpus


def test_lsh_recall_report_detected_subset_and_banding_loss(spark):
    """The report's invariant: detected ⊆ truth (precision 1.0 when
    anything is detected). And the quantity it exists to expose —
    banding loss — is real: a single 32-row band (s^32 collision
    probability) misses a ~0.5-Jaccard pair that 8×4 banding finds."""
    from poormans_kube_etl_spark.operators.minhash import (
        minhash_near_duplicates,
    )
    from poormans_kube_etl_spark.queries import all_queries
    import os
    import tempfile

    base = [f"w{i}" for i in range(40)]
    # last 8 tokens replaced → h0-shingle Jaccard ≈ 0.65 (deterministic
    # for the md5 family): high enough for 8×4 banding, far below an
    # all-mins single-band collision
    d0 = " ".join(base)
    d1 = " ".join(base[:32] + [f"x{i}" for i in range(8)])
    rows = [
        (0, d0, "en", "s0", len(d0)),
        (1, d1, "en", "s0", len(d1)),
        (2, d0, "en", "s0", len(d0)),  # exact dup of 0: jaccard 1.0
    ]
    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        )
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        rep = all_queries()["dedup_lsh_recall_report"](spark, d).collect()[0]
    assert rep.n_found == rep.n_detected  # detected ⊆ truth, always
    assert rep.precision in (1.0, None)
    assert rep.n_truth >= 1  # the exact dup pair at least
    # banding loss demonstrated operator-side: 1 band of 32 rows finds
    # only the exact dup; 8×4 finds more of the truth set
    weak = minhash_near_duplicates(
        docs, "doc_id", "text", shingle_len=3, num_hashes=32, bands=1,
        threshold=0.2, hash_family="md5",
    ).count()
    strong = minhash_near_duplicates(
        docs, "doc_id", "text", shingle_len=3, num_hashes=32, bands=8,
        threshold=0.2, hash_family="md5",
    ).count()
    assert weak == 1  # single all-mins band: only the exact dup collides
    assert strong == 3  # exact dup + the 0.65-pair against both copies


def test_kwic_snippets_window_edges(spark):
    """KWIC windows clamp at both document edges: a term at position 0
    gets a 3-token right-leaning snippet, one at the end gets the
    left-leaning mirror, and interior hits get the full ±2 window."""
    import os
    import tempfile

    from poormans_kube_etl_spark.queries.text_analysis import text_kwic_snippets

    text = "spark b c d merge f g stream"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, text, "en", "s0", len(text))],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {(r.pos): (r.term, r.snippet) for r in text_kwic_snippets(spark, d).collect()}
    assert got[0] == ("spark", "spark b c")
    assert got[4] == ("merge", "c d merge f g")
    assert got[7] == ("stream", "f g stream")


def test_where_materialized_rejects_barrier_name_collision(spark):
    # the barrier column would overwrite the caller's column and then
    # drop it from the result
    from poormans_kube_etl_spark.operators.exprcache import where_materialized

    df = spark.range(4).withColumn("_pushdown_barrier", F.col("id") * 2)
    with pytest.raises(ValueError, match="_pushdown_barrier"):
        where_materialized(df, F.col("id") > 1)
    kept = where_materialized(spark.range(4), F.col("id") > 1)
    assert kept.columns == ["id"]
    assert sorted(r["id"] for r in kept.collect()) == [2, 3]
