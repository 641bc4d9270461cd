"""Property-based spot checks (SURVEY.md §5 item 3, hypothesis):
invariants that hold for arbitrary inputs, not just the fixture rows.
Example counts are small — every example runs Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from seqdatapipeline_spark.ops import aggregates as agg
from seqdatapipeline_spark.ops import joins as jn

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(tlens=st.lists(st.integers(min_value=-500, max_value=500), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_histogram_density_sums_to_one(spark, tlens):
    df = spark.createDataFrame([(t,) for t in tlens], "tlen long")
    rows = agg.fragment_length_histogram(df, "tlen").collect()
    assert abs(sum(r.density for r in rows) - 1.0) < 1e-9
    assert sum(r.freq for r in rows) == len(tlens)
    assert all(r.fLength >= 0 for r in rows)  # abs() invariant


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=5),   # order field
            st.integers(min_value=0, max_value=99),  # payload
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_dedup_keep_first_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, "k long, o long, v long")
    once = agg.dedup_keep_first(df, ["k"], ["o", "v"])
    got = sorted(map(tuple, once.collect()))
    # one row per key, and it is the lexicographic minimum of (o, v)
    expected = {}
    for k, o, v in rows:
        if k not in expected or (o, v) < expected[k]:
            expected[k] = (o, v)
    assert got == sorted((k, o, v) for k, (o, v) in expected.items())
    # idempotent
    twice = agg.dedup_keep_first(once, ["k"], ["o", "v"])
    assert sorted(map(tuple, twice.collect())) == got


@given(
    points=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=50),
    intervals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=300), st.integers(min_value=0, max_value=120)),
        min_size=1,
        max_size=10,
    ),
    bin_size=st.sampled_from([3, 10, 64, 500]),
)
@settings(**SETTINGS)
def test_interval_count_rewrite_equals_join_count(
    spark, monkeypatch, points, intervals, bin_size
):
    """The interior+edge count rewrite must equal materialize-pairs-
    then-count for arbitrary points, intervals, and bin sizes, with
    either interior term."""
    pts = spark.createDataFrame([("c", p) for p in points], "rname string, pos long")
    ivl = spark.createDataFrame(
        [("c", f"g{i}", s, s + w) for i, (s, w) in enumerate(intervals)],
        "chrom string, gid string, start long, end long",
    )
    expected = sorted(
        (r.gid, r.n)
        for r in jn.interval_join_binned(pts, ivl, bin_size=1000)
        .groupBy("gid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    binned = jn._binned_points(pts, bin_size)
    got = sorted(
        (r.gid, r.n)
        for r in jn._count_at(*binned, ivl, ["gid"], bin_size, dense=False).collect()
    )
    assert got == expected, (bin_size, got, expected)
    # The prefix-sum term must agree too; 3-bin superbins force the
    # two-level cumulative across superbin boundaries and the dense
    # gap/clamp paths (intervals here extend past the point domain).
    monkeypatch.setattr(jn, "SUPERBIN_BINS", 3)
    got_prefix = sorted(
        (r.gid, r.n)
        for r in jn._count_at(*binned, ivl, ["gid"], bin_size, dense=True).collect()
    )
    assert got_prefix == expected, (bin_size, got_prefix, expected)


@given(
    n_salts=st.sampled_from([1, 3, 8]),
    fact=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4), st.integers(min_value=0, max_value=99)),
        min_size=0,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_salted_join_invariant_to_salt_count(spark, n_salts, fact):
    f = spark.createDataFrame(fact, "k long, v long") if fact else spark.createDataFrame([], "k long, v long")
    d = spark.createDataFrame([(0, "a"), (2, "b"), (4, "c")], "k long, name string")
    plain = sorted(map(tuple, f.join(d, "k").select("k", "v", "name").collect()))
    salted = sorted(
        map(tuple, jn.salted_join(f, d, "k", n_salts=n_salts).select("k", "v", "name").collect())
    )
    assert salted == plain


@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=40),
        min_size=1,
        max_size=25,
    ),
    budget=st.sampled_from([4, 16, 64]),
    n_shards=st.sampled_from([1, 3, 8]),
)
@settings(**SETTINGS)
def test_pack_sequences_covers_all_docs(spark, docs, budget, n_shards):
    """Packing is a partition of the corpus for arbitrary texts,
    budgets, and shard counts, and bin_fill always equals the sum of
    its members' capped token counts."""
    from seqdatapipeline_spark.extensions import corpus as cp

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = cp.pack_sequences(df, budget=budget, n_shards=n_shards).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(docs)))
    fills = {}
    for r in out:
        fills.setdefault(r["bin_id"], []).append(min(r["n_tokens"], budget))
    for r in out:
        assert r["bin_fill"] == sum(fills[r["bin_id"]])


@given(
    rate_lo=st.floats(min_value=0.0, max_value=1.0),
    rate_hi=st.floats(min_value=0.0, max_value=1.0),
)
@settings(**SETTINGS)
def test_stratified_sample_monotone_for_any_rates(spark, rate_lo, rate_hi):
    """For ANY pair of rates, the lower-rate sample is a subset of the
    higher-rate sample (hash-gate composability)."""
    from seqdatapipeline_spark.extensions import corpus as cp

    if rate_lo > rate_hi:
        rate_lo, rate_hi = rate_hi, rate_lo
    df = spark.createDataFrame([(i, "en") for i in range(40)], "doc_id long, lang string")
    lo = {r["doc_id"] for r in cp.stratified_sample(df, "lang", {"en": rate_lo}).collect()}
    hi = {r["doc_id"] for r in cp.stratified_sample(df, "lang", {"en": rate_hi}).collect()}
    assert lo <= hi


@given(
    texts=st.lists(st.text(alphabet="xy z", min_size=0, max_size=30), min_size=1, max_size=15)
)
@settings(**SETTINGS)
def test_exact_dedup_groups_partition_docs(spark, texts):
    """Group sizes sum to the corpus; keep_id is the minimum id of its
    content group."""
    from seqdatapipeline_spark.extensions import dedup as dd

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = dd.exact_dedup_groups(df).collect()
    assert sum(r["n_dups"] for r in rows) == len(texts)
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    assert sorted(r["keep_id"] for r in rows) == sorted(min(v) for v in by_text.values())


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 6)),  # (node, bucket)
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """For ANY random node-bucket incidence, min-label propagation
    must agree with a reference union-find over the same graph."""
    from seqdatapipeline_spark.extensions import dedup as dd

    df = spark.createDataFrame(
        [(n, f"k{b}") for n, b in edges], "node long, key string"
    )
    got = {r.node: r.cluster_id for r in dd.connected_components(df).collect()}

    # reference: union-find over nodes sharing a bucket
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    buckets: dict[int, list[int]] = {}
    for n, b in edges:
        buckets.setdefault(b, []).append(n)
    for members in buckets.values():
        for m in members[1:]:
            union(members[0], m)
    # canonical label = min node of the component
    comp_min: dict[int, int] = {}
    for n, _ in edges:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n, _ in edges}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.floats(0, 100)),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_asof_attach_prior_matches_naive(spark, rows):
    """Single-scan as-of must agree with the obvious per-row scan:
    even ids are 'right' events, odd are 'left'; each left row takes
    the right row with the greatest (ts, id) <= its ts."""
    data = [(k, ts, i, i % 2 == 0, v) for i, (k, ts, v) in enumerate(rows)]
    df = spark.createDataFrame(
        [(k, ts, i, r, v) for k, ts, i, r, v in data],
        "k long, ts long, id long, is_r boolean, v double",
    )
    got = {
        r.id: r.pid
        for r in jn.asof_attach_prior(
            df, on="k", ts="ts", is_right=F.col("is_r"),
            right_cols={"pid": F.col("id")}, tiebreak=["id"], how="left",
        ).filter(~F.col("is_r")).collect()
    }
    for k, ts, i, is_r, _ in data:
        if is_r:
            continue
        cands = [(ts2, i2) for k2, ts2, i2, r2, _ in data if r2 and k2 == k and ts2 <= ts]
        want = max(cands)[1] if cands else None
        assert got.get(i) == want, (i, got.get(i), want)


# Filename fragments that stress the prefix≡first-block equivalence:
# repeated "_R" tokens, digits adjacent to the mate number, stems that
# embed the mate marker, and suffixes longer than the stem (where
# SequenceMatcher's LONGEST block is the suffix, and only the
# recursion's leftmost block equals the prefix).
_NAME_FRAG = st.text(
    alphabet="abR12_.-0", min_size=0, max_size=12
)


@given(stem=_NAME_FRAG, ext=_NAME_FRAG)
@settings(**SETTINGS)
def test_pair_key_matches_sequencematcher_first_block(spark, stem, ext):
    """Documents the semantic-narrowing claim (SURVEY §2.8
    common_prefix_pair_key): for mate-style name pairs
    ``<stem>_R1<ext>`` / ``<stem>_R2<ext>`` — same stem, same suffix,
    differing only in the mate digit — the reference's
    ``SequenceMatcher.get_matching_blocks()[0]`` (mainScript.py:241-243)
    is exactly the longest common prefix, so the Spark-side
    higher-order-function implementation reproduces the reference key
    byte-for-byte, including the ``_R`` → ``_paired`` rewrite."""
    from difflib import SequenceMatcher
    import re

    from seqdatapipeline_spark.ops import strings as stx

    a = f"{stem}_R1{ext}"
    b = f"{stem}_R2{ext}"
    i, j, n = SequenceMatcher(None, a, b).get_matching_blocks()[0]
    ref_key = re.sub("_R$", "_paired", a[i : i + n])

    df = spark.createDataFrame([(a, b)], "a string, b string")
    got = df.select(stx.pair_key(F.col("a"), F.col("b")).alias("k")).collect()[0].k
    assert got == ref_key, (a, b, got, ref_key)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=7).map("".join),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_span_dedup_matches_naive(spark, docs):
    """For ANY corpus, span_dedup must equal the naive reference:
    first global occurrence of each k-word span (by doc id, then
    position) survives; documents reassemble from survivors in
    order."""
    from seqdatapipeline_spark.extensions import dedup as dd

    k = 2
    rows = [(i, " ".join(doc)) for i, doc in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.clean_text)
        for r in dd.span_dedup(df, k=k).collect()
    }

    seen: set[str] = set()
    want = {}
    for i, text in rows:
        words = text.split(" ")
        spans = [
            " ".join(words[j : j + k]) for j in range(0, len(words), k)
        ]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want[i] = (len(spans), len(kept), " ".join(kept))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 4),  # key
            st.integers(1, 3),  # tag (3 = neither mate)
            st.integers(0, 9),  # value
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_mate_pair_enumerate_matches_join(spark, rows):
    """mate_pair_enumerate must equal the two-sided inner join for ANY
    tagged multiset — including duplicate (key, tag) rows, where both
    enumerate the full per-key cross product."""
    from seqdatapipeline_spark.ops import joins as jn

    df = spark.createDataFrame(rows, "k long, tag long, v long")
    got = sorted(
        map(tuple, jn.mate_pair_enumerate(df, "k", "tag", ["v"]).collect())
    )
    r1 = [(k, v) for k, t, v in rows if t == 1]
    r2 = [(k, v) for k, t, v in rows if t == 2]
    want = sorted(
        (k, v1, v2) for k, v1 in r1 for k2, v2 in r2 if k == k2
    )
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=3, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@settings(**SETTINGS)
def test_setsim_prefix_join_equals_brute_force(spark, docs, threshold):
    """Prefix filtering is exact: for arbitrary corpora and thresholds
    the result equals all-pairs Jaccard over 3-shingle sets."""
    from itertools import combinations

    from seqdatapipeline_spark.extensions import dedup as dd

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.setsim_prefix_join(df, threshold=threshold).collect()
    }
    shingle = lambda t: {
        " ".join(ws) for ws in zip(*(t.split(" ")[i:] for i in range(3)))
    }
    sets = {i: shingle(t) for i, t in enumerate(docs)}
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            expected[(a, b)] = round(j, 6)
    assert got == expected
    # The collapsed form (distinct-content join + member fan-out) must
    # produce the identical pair set — duplicate texts are common under
    # this generator, exercising the within-group 1.0 branch.
    got_collapsed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.setsim_prefix_join_collapsed(df, threshold=threshold).collect()
    }
    assert got_collapsed == expected


@given(
    values=st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False),
        min_size=1,
        max_size=80,
    ),
    p=st.sampled_from([0.1, 0.5, 0.9]),
)
# Pinned regression (hypothesis-found r12, .hypothesis db is
# gitignored so fresh clones replay it too): the subnormal range
# [0.0, 5e-324] underflows (max-min)/bins to 0.0 while max > min —
# the ANSI bin division threw mid-job until the width>0 guard.
@example(values=[0.0, 5e-324], p=0.1)
@settings(**SETTINGS)
def test_binned_quantiles_bounded_by_order_stat(spark, values, p):
    """The histogram estimate always lands within one bin width of
    the inverse-CDF order statistic."""
    import math

    df = spark.createDataFrame([("g", float(v)) for v in values], "g string, v double")
    rows = agg.binned_quantiles(df, ["g"], "v", [p], bins=100).collect()
    assert len(rows) == 1
    q = rows[0]["q"]
    s = sorted(values)
    width = (s[-1] - s[0]) / 100.0
    true = s[min(len(s) - 1, int(math.ceil(p * len(s))) - 1)]
    assert abs(q - true) <= width + 1e-6


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=100000), # ts offset seconds
        ),
        min_size=1,
        max_size=40,
    ),
    tol=st.sampled_from([60.0, 300.0, 3600.0]),
)
@settings(**SETTINGS)
def test_lateness_flags_matches_naive(spark, rows, tol):
    """lateness_flags == a per-user sequential walk for arbitrary
    arrival orders and tolerances (the synthetic events table never
    exercises lateness, so random streams must)."""
    import datetime as dt

    from seqdatapipeline_spark.ops.windows import lateness_flags

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    got = {
        (r["user_id"], r["__t"]): r["late"]
        for r in lateness_flags(df, tolerance_s=tol).collect()
    }
    # naive walk in arrival (event_id) order
    wm: dict[int, float] = {}
    n_late_expect = 0
    for i, (u, s) in enumerate(rows):
        t = (base + dt.timedelta(seconds=s)).timestamp()
        late = 1 if (u in wm and wm[u] - t > tol) else 0
        n_late_expect += late
        wm[u] = max(wm.get(u, t), t)
    assert sum(got.values()) == n_late_expect


@given(
    baskets=st.lists(
        st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=5),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_cooccurrence_pairs_match_naive(spark, baskets):
    """The in-group pair generator equals the self-join formulation
    for arbitrary baskets (duplicates inside a basket collapse)."""
    from seqdatapipeline_spark.ops import aggregates as agg2

    rows = [(g, i) for g, items in enumerate(baskets) for i in items]
    df = spark.createDataFrame(rows, "g long, item long").distinct()
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in agg2.cooccurrence_counts(df, "g", "item", max_group=50).collect()
    }
    import collections

    expect = collections.Counter()
    for items in baskets:
        s = sorted(set(items))
        for i, a in enumerate(s):
            for b in s[i + 1 :]:
                expect[(a, b)] += 1
    assert got == dict(expect)


@given(
    texts=st.lists(
        st.sampled_from([
            "aa bb cc dd ee",          # base
            "aa bb cc dd ff",          # near variant
            "zz yy xx ww vv",          # distinct
            "aa bb cc dd ee",          # exact duplicate of base
            "mm nn oo pp qq rr",
        ]),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lsh_candidate_pairs_match_naive_banding(spark, texts):
    """The collapsed (signature-level) lsh_candidate_pairs must equal
    naive per-doc banding: same K-M signature formula in Python, pair
    any two docs sharing a band — including duplicate-heavy inputs
    where the collapsed form's within-group array emission does the
    work."""
    import hashlib

    from seqdatapipeline_spark.extensions import dedup as dd

    NH, BS, MOD = 12, 2, 1 << 56

    def sig_of(text):
        ws = text.split(" ")
        shingles = list(dict.fromkeys(
            " ".join(ws[i:i + 3]) for i in range(len(ws) - 2)
        ))
        mins = [1 << 62] * NH
        for s in shingles:
            h = hashlib.md5(s.encode()).hexdigest()
            h1, h2 = int(h[0:14], 16), int(h[14:28], 16)
            for j in range(NH):
                mins[j] = min(mins[j], (h1 + j * h2) % MOD)
        return mins

    docs = [(i, t) for i, t in enumerate(texts)]
    expect = set()
    sigs = {i: sig_of(t) for i, t in docs if len(t.split()) >= 3}
    for a in sigs:
        for b in sigs:
            if a < b and any(
                sigs[a][k * BS:(k + 1) * BS] == sigs[b][k * BS:(k + 1) * BS]
                for k in range(NH // BS)
            ):
                expect.add((a, b))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            dd.minhash_signature(df, num_hashes=NH, shingle_n=3),
            num_hashes=NH,
            band_size=BS,
        ).collect()
    }
    assert got == expect


@given(
    texts=st.lists(
        st.sampled_from([
            "aa bb cc dd ee",          # base
            "aa bb cc dd ff",          # near variant
            "zz yy xx ww vv",          # distinct
            "aa bb cc dd ee",          # exact duplicate of base
            "x y",                     # empty shingle set (< n words)
            "p q",                     # another short doc
        ]),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_estimate_pairs_match_naive_scoring(spark, texts):
    """The collapsed minhash_estimate_pairs must equal naive per-doc
    banding + per-pair scoring — including within-duplicate-group
    pairs (est 1.0, truth 1.0/0.0) and empty-shingle docs whose
    all-init signatures band together with truth 0.0."""
    import hashlib

    from seqdatapipeline_spark.extensions import dedup as dd

    NH, BS, MOD = 12, 2, 1 << 56

    def shingles(text):
        ws = text.split(" ")
        return list(dict.fromkeys(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)))

    def sig_of(text):
        mins = [1 << 62] * NH
        for s in shingles(text):
            h = hashlib.md5(s.encode()).hexdigest()
            h1, h2 = int(h[0:14], 16), int(h[14:28], 16)
            for j in range(NH):
                mins[j] = min(mins[j], (h1 + j * h2) % MOD)
        return mins

    docs = [(i, t) for i, t in enumerate(texts)]
    # shingle-less docs get no signature (the SQL mirror's explode
    # drops them before the aggregate) and can never pair
    sigs = {i: sig_of(t) for i, t in docs if shingles(t)}
    expect = {}
    for a, ta in docs:
        for b, tb in docs:
            if a < b and a in sigs and b in sigs and any(
                sigs[a][k * BS:(k + 1) * BS] == sigs[b][k * BS:(k + 1) * BS]
                for k in range(NH // BS)
            ):
                est = round(sum(sigs[a][j] == sigs[b][j] for j in range(NH)) / NH, 6)
                A, B = set(shingles(ta)), set(shingles(tb))
                union = len(A | B)
                truth = round(len(A & B) / union, 6) if union else 0.0
                expect[(a, b)] = (est, truth, round(abs(est - truth), 6))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.est_jaccard, r.true_jaccard, r.abs_err)
        for r in dd.minhash_estimate_pairs(df).collect()
    }
    assert got == expect


@given(
    texts=st.lists(
        st.sampled_from([
            "aa bb cc dd ee",
            "aa bb cc dd ff",
            "aa bb cc dd ee ff gg hh",   # superset-ish (containment asymmetry)
            "zz yy xx ww vv",
            "aa bb cc dd ee",            # exact duplicate
        ]),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_containment_pairs_match_naive(spark, texts):
    """Collapsed directional containment must equal naive per-doc
    banding + scoring, with the a/b directions following the
    least/greatest id order after duplicate fan-out."""
    import hashlib

    from seqdatapipeline_spark.extensions import dedup as dd

    NH, BS, MOD = 12, 2, 1 << 56

    def shingles(text):
        ws = text.split(" ")
        return list(dict.fromkeys(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)))

    def sig_of(text):
        mins = [1 << 62] * NH
        for s in shingles(text):
            h = hashlib.md5(s.encode()).hexdigest()
            h1, h2 = int(h[0:14], 16), int(h[14:28], 16)
            for j in range(NH):
                mins[j] = min(mins[j], (h1 + j * h2) % MOD)
        return mins

    docs = [(i, t) for i, t in enumerate(texts)]
    sigs = {i: sig_of(t) for i, t in docs if shingles(t)}
    expect = {}
    for a, ta in docs:
        for b, tb in docs:
            if a < b and a in sigs and b in sigs and any(
                sigs[a][k * BS:(k + 1) * BS] == sigs[b][k * BS:(k + 1) * BS]
                for k in range(NH // BS)
            ):
                j = sum(sigs[a][k] == sigs[b][k] for k in range(NH)) / NH
                A, B = set(shingles(ta)), set(shingles(tb))
                shared, za, zb = len(A & B), float(len(A)), float(len(B))
                est_i = j / (1 + j) * (za + zb)
                expect[(a, b)] = (
                    round(j, 6),
                    round(min(est_i / za, 1.0), 6), round(min(est_i / zb, 1.0), 6),
                    round(shared / za, 6), round(shared / zb, 6),
                )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (
            r.est_jaccard, r.est_cont_a_in_b, r.est_cont_b_in_a,
            r.true_cont_a_in_b, r.true_cont_b_in_a,
        )
        for r in dd.minhash_containment_pairs(df).collect()
    }
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),  # (u, v) any order
        min_size=0,
        max_size=40,
    ),
    extra_nodes=st.lists(st.integers(0, 20), max_size=6),
)
@settings(**SETTINGS)
def test_connected_components_edges_matches_union_find(spark, edges, extra_nodes):
    """The edge-direct CC entry point (setsim_clusters' path) must
    agree with a reference union-find on ANY random edge list, label
    isolated nodes as themselves, and produce the same answer on the
    driver local-finish tier and the distributed star-contraction
    tier (local_finish_edges=0 forces the latter)."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.extensions import dedup as dd

    e = [(max(u, v), min(u, v)) for u, v in edges if u != v]
    e = sorted(set(e))
    nodes = sorted({n for p in e for n in p} | set(extra_nodes))
    if not nodes:
        nodes = [0]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(e, "u long, v long") if e else ndf.select(
        F.col("node").alias("u"), F.col("node").alias("v")
    ).filter(F.lit(False))
    edf = edf.localCheckpoint(eager=True)

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in e:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in nodes}

    for cutover in (100_000, 0):
        got = {
            r.node: r.cluster_id
            for r in dd.connected_components_edges(
                edf, ndf, local_finish_edges=cutover
            ).collect()
        }
        assert got == want, (cutover, got, want)

    # The converged-state contract the r13 fused label path
    # (setsim_clusters: members ⋈ contracted edges, label =
    # coalesce(v, node)) depends on: after contraction every
    # NON-CENTER node carries exactly one (u, v=component-min) edge,
    # and centers / isolated nodes carry no u-row at all — on both
    # the local-finish and the distributed tier.
    for cutover in (100_000, 0):
        conv = dd.contracted_star_edges(edf, local_finish_edges=cutover).collect()
        by_u: dict[int, list[int]] = {}
        for r in conv:
            by_u.setdefault(r.u, []).append(r.v)
        assert all(len(vs) == 1 for vs in by_u.values()), (cutover, by_u)
        got = {n: by_u.get(n, [n])[0] for n in nodes}
        assert got == want, (cutover, got, want)


@given(
    data=st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32), min_size=16, max_size=16
        ),
        min_size=3,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_pq_ivf_build_matches_numpy_reference(spark, data):
    """The shared IVF+PQ construction must agree with a direct numpy
    reference on ANY small vector set: coarse assignment = argmax
    cosine vs the first-k vectors (ties to the lower cell), PQ code =
    argmin subvector L2 vs the first-m vectors (ties to the lower
    centroid). This is the construction the curated code table stores,
    so its determinism IS the curated-serving parity guarantee."""
    import numpy as np

    from seqdatapipeline_spark.extensions import similarity as sim

    n_coarse = min(2, len(data))
    n_cents = min(4, len(data))
    sub_dim, n_subs = 4, 4
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(data)],
        "vec_id long, embedding array<double>",
    )
    _, _, _, _, _, vassign, codes = sim.pq_ivf_build(
        df, n_coarse=n_coarse, n_cents=n_cents, n_subs=n_subs, sub_dim=sub_dim
    )
    got_assign = {r["vec_id"]: r["ccell"] for r in vassign.collect()}
    got_codes = {(r["vec_id"], r["sub"]): r["cent"] for r in codes.collect()}

    arr = np.asarray(data, dtype=np.float64)
    coarse = arr[:n_coarse]
    cb = arr[:n_cents]
    for i, v in enumerate(arr):
        nv = np.linalg.norm(v)
        best_cell, best_cos = None, -np.inf
        for c in range(n_coarse):
            nc = np.linalg.norm(coarse[c])
            if nv == 0 or nc == 0:
                continue  # engine cosine is NULL there; max_by skips
            cos = float(v @ coarse[c]) / (nv * nc)
            if cos > best_cos + 1e-12:
                best_cell, best_cos = c, cos
        if best_cell is None:
            # all cosines NULL (zero-norm vector or all-zero coarse
            # set): max_by's struct ordering treats the NULL cosine
            # field as smallest-and-equal, so the -ccell tiebreak
            # deterministically lands the vector in the LOWEST cell —
            # harmless (its cosine to any query is NULL, so it never
            # outranks a real candidate) and stable for the stored
            # code table.
            best_cell = 0
        assert got_assign[i] == best_cell, (i, got_assign[i], best_cell)
        for s in range(n_subs):
            sv = v[s * sub_dim : (s + 1) * sub_dim]
            d2 = [float(((sv - cb[c][s * sub_dim : (s + 1) * sub_dim]) ** 2).sum()) for c in range(n_cents)]
            best = min(range(n_cents), key=lambda c: (d2[c] + 0.0, c))
            # tolerate float-association ties: accept any centroid
            # within 1e-9 of the reference minimum
            assert abs(d2[got_codes[(i, s)]] - d2[best]) < 1e-9, (i, s)


_URLISH = st.text(
    alphabet="abcDE019:/?#&=._%-@[]ü ",
    min_size=0,
    max_size=60,
).map(lambda s: "https://ex.com" + s)


@given(tails=st.lists(_URLISH, min_size=1, max_size=20))
@settings(**SETTINGS)
def test_url_normalize_idempotent(spark, tails):
    """A canonicalizer must be a projection: normalize(normalize(u))
    == normalize(u) for ANY input, else two ingest passes of the same
    crawl disagree on the dedup key. Checked over hypothesis-generated
    URL-ish dirt; the curated adversarial corpus is covered by the
    sweep's parity mode."""
    from seqdatapipeline_spark.ops import strings as stx

    df = spark.createDataFrame([(i, u) for i, u in enumerate(tails)], "i long, u string")
    once = stx.url_normalize(F.col("u"))
    rows = df.select(
        "i", once.alias("n1"), stx.url_normalize(once).alias("n2")
    ).collect()
    for r in rows:
        assert r.n1 == r.n2, (tails[r.i], r.n1, r.n2)


def test_url_normalize_idempotent_on_adversarial_corpus(spark):
    import importlib.util as iu

    from pyspark.sql import functions as FF

    from seqdatapipeline_spark.ops import strings as stx

    spec = iu.spec_from_file_location(
        "adversarial_sweep", "/root/repo/scripts/adversarial_sweep.py"
    )
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    urls = mod.ADVERSARIAL_URLS
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, u string")
    once = stx.url_normalize(FF.col("u"))
    rows = df.select("i", once.alias("n1"), stx.url_normalize(once).alias("n2")).collect()
    bad = [(urls[r.i], r.n1, r.n2) for r in rows if r.n1 != r.n2]
    assert bad == [], bad
