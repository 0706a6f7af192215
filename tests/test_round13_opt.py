"""Round-13 optimization pins.

Every optimization this round must leave declared query results identical;
these tests pin the equivalence arguments at the operator level:

- the PPJoin pair bound added to jaccard_prefix_pairs /
  containment_prefix_pairs (cnt + last-surviving-position upper bound on
  the overlap) against brute force, on corpora where the bound actually
  prunes (template-heavy: many shared mid-frequency tokens) and on the
  exact-threshold boundary corpora from rounds 7/8;
- global_midranks' wide (distinct-table) tie fallback against the in-place
  narrow path, including the 90%-one-value degenerate-skew corpus and the
  ±0.0 / NaN / NULL edge values, and the auto probe's partition count
  (spark.sql.shuffle.partitions, what the range exchange uses);
- dedup_keep_first's float-key canonicalization (SPARK-32110), per ADVICE
  r12: groupBy canonicalizes float grouping keys in the OUTPUT (−0.0 →
  0.0, NaN bit patterns to one canonical NaN) where the old window path
  returned original key bytes — pinned so the behavior is documented;
- knuth_bucket's overflow guard on the (m−1)·(K mod m) < 2^63 bound.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


def _brute_jaccard(docs, t):
    sets = {i: set(b.split()) for i, b in docs}
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            j = inter / len(sets[a] | sets[b])
            if j >= t:
                out[(a, b)] = j
    return out


def _brute_containment(docs, t):
    sets = {i: set(b.split()) for i, b in docs}
    ids = sorted(sets)
    out = {}
    for a in ids:
        for b in ids:
            if a == b or not sets[a]:
                continue
            c = len(sets[a] & sets[b]) / len(sets[a])
            if c >= t:
                out[(a, b)] = c
    return out


def _template_corpus(seed=13, n_docs=60):
    """Template-heavy corpus: a large shared template plus per-doc noise —
    candidate pairs share MANY prefix tokens, so the r13 cnt+last bound is
    exercised (cnt > 1) and actually prunes near-threshold non-pairs."""
    rng = random.Random(seed)
    template = [f"tpl{i:03d}" for i in range(40)]
    noise = [f"noise{i:03d}" for i in range(200)]
    docs = []
    for d in range(n_docs):
        k = rng.randint(0, 12)
        words = template[: 40 - k] + rng.sample(noise, k)
        rng.shuffle(words)
        docs.append((f"d{d:03d}", " ".join(words)))
    return docs


@pytest.mark.parametrize("t", [0.6, 0.8, 0.9])
def test_jaccard_ppjoin_pair_bound_brute_force(spark, t):
    from isen_projet_bigdata_a3s6_spark.functions.dedup import (
        jaccard_prefix_pairs,
    )

    docs = _template_corpus()
    df = spark.createDataFrame(docs, "id string, body string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_pairs(
            df, "id", "body", threshold=t, ngram=None
        ).collect()
    }
    expect = _brute_jaccard(docs, t)
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


def test_jaccard_boundary_pair_survives_pair_bound(spark):
    """Exact-threshold pair (J == t exactly) must survive both pair-level
    positional bounds — the round-8 boundary corpus re-pinned on the r13
    filter."""
    from isen_projet_bigdata_a3s6_spark.functions.dedup import (
        jaccard_prefix_pairs,
    )

    docs = [
        ("a", " ".join([f"s{i:02d}" for i in range(34)] + [f"r{i}" for i in range(6)])),
        ("b", " ".join([f"s{i:02d}" for i in range(34)] + [f"q{i}" for i in range(6)])),
    ]
    df = spark.createDataFrame(docs, "id string, body string")
    t = 34 / 46  # J(a,b) = 34/(40+40-34) exactly
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_pairs(
            df, "id", "body", threshold=t, ngram=None
        ).collect()
    }
    assert ("a", "b") in got


@pytest.mark.parametrize("t", [0.7, 0.85])
def test_containment_ppjoin_pair_bound_brute_force(spark, t):
    from isen_projet_bigdata_a3s6_spark.functions.dedup import (
        containment_prefix_pairs,
    )

    docs = _template_corpus(seed=29, n_docs=50)
    # add contained-in-long shapes (the asymmetric case)
    docs += [
        ("sub0", " ".join(f"tpl{i:03d}" for i in range(20))),
        ("sub1", " ".join([f"tpl{i:03d}" for i in range(17)] + ["zz1", "zz2", "zz3"])),
    ]
    df = spark.createDataFrame(docs, "id string, body string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_pairs(
            df, "id", "body", threshold=t, ngram=None
        ).collect()
    }
    expect = _brute_containment(docs, t)
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


def test_containment_boundary_survives_pair_bound(spark):
    """containment(A→B) = 34/40 = 0.85 exactly at threshold must survive
    the r13 pair-level bounds (round-7 corpus re-pinned)."""
    from isen_projet_bigdata_a3s6_spark.functions.dedup import (
        containment_prefix_pairs,
    )

    shared = [f"s{i:02d}" for i in range(34)]
    rare = [f"rareword{i}" for i in range(6)]
    docs = [
        ("A", " ".join(shared + rare)),
        ("B", " ".join(shared)),
        ("F1", " ".join(shared)),
        ("F2", " ".join(shared)),
    ]
    df = spark.createDataFrame(docs, "id string, body string")
    got = {
        (r["id_a"], r["id_b"])
        for r in containment_prefix_pairs(
            df, "id", "body", threshold=0.85, ngram=None
        ).collect()
    }
    assert ("A", "B") in got, "exact-threshold pair pruned by the pair bound"


# ---------------------------------------------------------------------------
# global_midranks tie modes
# ---------------------------------------------------------------------------


def _midrank_rows(df_out, val_col="v"):
    rows = df_out.collect()
    out = []
    for r in rows:
        v = r[val_col]
        key = "NULL" if v is None else (
            "NaN" if isinstance(v, float) and math.isnan(v) else v
        )
        out.append((r["rid"], key, r["w"]))
    return sorted(out, key=str)


def _mixed_values():
    vals = []
    rng = random.Random(7)
    for i in range(200):
        vals.append(rng.choice([1.5, 2.5, -3.25, 0.0, -0.0, float("nan"), None, 10.0 + i]))
    return vals


@pytest.mark.parametrize("mode", ["narrow", "wide", "auto"])
def test_global_midranks_tie_modes_parity(spark, mode):
    from isen_projet_bigdata_a3s6_spark.operators.windows import (
        global_midranks,
    )

    vals = _mixed_values()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid int, v double"
    )
    got = _midrank_rows(global_midranks(df, "v", "w", ties=mode))
    # reference: exact midranks computed in python with the same key
    # normalization (NULL first, then values, NaN last; ±0.0 merged)
    def keyof(v):
        if v is None:
            return (0, 0.0)
        if math.isnan(v):
            return (2, 0.0)
        return (1, v + 0.0)  # +0.0 merges -0.0 into 0.0

    ordered = sorted(range(len(vals)), key=lambda i: keyof(vals[i]))
    expect = []
    for i in range(len(vals)):
        k = keyof(vals[i])
        less = sum(1 for v2 in vals if keyof(v2) < k)
        eq = sum(1 for v2 in vals if keyof(v2) == k)
        expect.append(2 * less + eq + 1)
    for rid, _, w in got:
        assert w == expect[rid], (rid, vals[rid], w, expect[rid])
    assert len(got) == len(vals)


def test_global_midranks_degenerate_skew_bounded(spark):
    """90 % of rows share one value: auto must dispatch to the wide path
    (no tie group ever co-located into one range partition), results must
    match the narrow path, and no output partition may hold the whole hot
    tie group."""
    from isen_projet_bigdata_a3s6_spark.operators.windows import (
        global_midranks,
    )

    n = 4000
    rows = [(i, 42.0 if i % 10 else float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, "rid int, v double").repartition(8)
    out_auto = global_midranks(df, "v", "w", ties="auto")
    out_narrow = global_midranks(df, "v", "w", ties="narrow")
    a = {(r["rid"], r["w"]) for r in out_auto.collect()}
    b = {(r["rid"], r["w"]) for r in out_narrow.collect()}
    assert a == b
    # bounded per-partition row counts on the auto (wide) path: the hot
    # tie group (3600 rows) must NOT be funneled into a single partition
    # the way the narrow path's range exchange does by construction.
    sizes = [
        r["c"]
        for r in out_auto.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert max(sizes) < int(0.9 * n), sizes


def test_global_midranks_auto_sizes_by_shuffle_partitions(spark):
    """The auto heuristic's ``nparts`` is spark.sql.shuffle.partitions —
    the partition count of the narrow path's range exchange — not
    defaultParallelism. 1000 rows with a 10-row tie group: one range
    partition of 400 holds ~2.5 rows, so the tie group spans ~4 ideal
    partitions and auto must pick the wide path; under
    defaultParallelism (≤ 200 cores) it stayed narrow."""
    from isen_projet_bigdata_a3s6_spark.operators.windows import (
        global_midranks,
    )

    rows = [(i, 5.0 if i < 10 else float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "rid int, v double")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "400")
    try:
        out_auto = global_midranks(df, "v", "w", ties="auto")
        assert "__mkey" in out_auto._jdf.queryExecution().analyzed().toString()
        a = {(r["rid"], r["w"]) for r in out_auto.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    b = {(r["rid"], r["w"]) for r in global_midranks(df, "v", "w", ties="narrow").collect()}
    assert a == b


# ---------------------------------------------------------------------------
# dedup_keep_first float keys (ADVICE r12)
# ---------------------------------------------------------------------------


def test_dedup_keep_first_float_key_canonicalization(spark):
    """SPARK-32110 pin: the min_by/groupBy rewrite canonicalizes FLOAT
    grouping keys in the output (−0.0 → 0.0), while payload selection is
    identical to the window path. −0.0 and 0.0 are ONE group on both
    paths (grouping equality), so the survivor is the same row; only the
    key's byte representation changes."""
    from isen_projet_bigdata_a3s6_spark.operators.cleaning import (
        dedup_keep_first,
    )

    rows = [
        (0.0, 2, "a"),
        (-0.0, 1, "b"),       # same group as 0.0; first by ord
        (float("nan"), 5, "c"),
        (float("nan"), 3, "d"),  # same group (NaN groups together); first
        (1.5, 9, "e"),
    ]
    df = spark.createDataFrame(rows, "k double, ord int, payload string")
    got = {
        ("NaN" if math.isnan(r["k"]) else r["k"], r["ord"], r["payload"])
        for r in dedup_keep_first(df, ["k"], ["ord"]).collect()
    }
    # survivors: ord=1 for the ±0.0 group, ord=3 for the NaN group, e
    assert got == {(0.0, 1, "b"), ("NaN", 3, "d"), (1.5, 9, "e")}
    # canonicalization pin: the surviving ±0.0-group key reads +0.0 even
    # though the surviving ROW carried −0.0
    ks = [r["k"] for r in dedup_keep_first(df, ["k"], ["ord"]).collect()
          if r["k"] == 0.0]
    assert all(math.copysign(1.0, k) == 1.0 for k in ks)


# ---------------------------------------------------------------------------
# knuth_bucket guard (ADVICE r12)
# ---------------------------------------------------------------------------


def test_knuth_bucket_overflow_guard():
    from isen_projet_bigdata_a3s6_spark.operators.sampling import (
        _KNUTH,
        knuth_bucket,
    )

    # supported counts construct fine
    knuth_bucket("k", 5)
    knuth_bucket("k", 10_000)
    # a count whose (m−1)·(K mod m) product would overflow int64 raises
    with pytest.raises(ValueError):
        knuth_bucket("k", 2**62)
    with pytest.raises(ValueError):
        knuth_bucket("k", 0)
    # boundary sanity: the guard condition itself
    for m in (5, 10_000, 2**31):
        assert (m - 1) * (_KNUTH % m) < 2**63
