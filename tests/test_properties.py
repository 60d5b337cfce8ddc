"""Property-based tests (hypothesis) for the algorithmic operators —
randomized adversaries the fixed oracle fixtures can't provide."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nyc_taxi_data_ingestion_spark.llm.curation import rate_to_hex_threshold


# -- pure-python properties: cheap, run many examples ------------------------


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_rate_threshold_bounds(rate):
    # regression: rates within an ulp of 1.0 used to round to a 9-hex
    # threshold that string-compares BELOW most md5 prefixes
    t = rate_to_hex_threshold(rate)
    v = max(0, round(rate * 16**8))
    if v >= 16**8:
        assert t == "g"
    else:
        assert len(t) == 8 and int(t, 16) == v


@given(
    st.floats(min_value=0.0, max_value=0.999, allow_nan=False),
    st.floats(min_value=0.0, max_value=0.999, allow_nan=False),
)
def test_rate_threshold_monotone(a, b):
    # a higher sampling rate must never produce a lower threshold —
    # monotonicity is what makes per-stratum rates composable
    lo, hi = sorted((a, b))
    assert rate_to_hex_threshold(lo) <= rate_to_hex_threshold(hi)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# -- distributed properties: few examples, real Spark jobs -------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=60,
    )
)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation must agree with sequential union-find on
    arbitrary random graphs (chains, cliques, self-merging stars)."""
    from nyc_taxi_data_ingestion_spark.llm.dedup import connected_components

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.node: r.label for r in connected_components(df, max_iterations=50).collect()}
    want = _union_find_components(edges)
    assert got == want


def test_simhash_lane_width_invariance(spark, sf_dir):
    """lane_bits=32 (the >65k-token-doc configuration) must produce
    identical signatures to the default 16-bit lanes."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.llm.dedup import simhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    a = simhash_signatures(docs, lane_bits=16)
    b = (
        simhash_signatures(docs, lane_bits=32)
        .withColumnsRenamed({"__sh": "__sh32"})
    )
    diffs = a.join(b, "__id").filter(F.col("__sh") != F.col("__sh32")).count()
    assert diffs == 0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["alpha beta gamma " * 4, "delta epsilon zeta " * 4,
                             "eta theta iota kappa " * 4]),
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@pytest.mark.slow
def test_incremental_dedup_survivor_invariants(spark, rows):
    """On arbitrary batches drawn from a small text pool: (1) survivors
    carry pairwise-distinct texts, (2) each text pool member present in
    the batch has exactly its min-id doc surviving, (3) the updated
    index = seed ∪ survivor signatures."""
    from nyc_taxi_data_ingestion_spark.llm.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )

    batch = spark.createDataFrame(rows, "doc_id long, text string")
    seed = minhash_index(batch.limit(0))
    survivors, updated = incremental_minhash_dedup(batch, seed, threshold=0.9)
    got = [(r.doc_id, r.text) for r in survivors.collect()]
    texts = [t for _, t in got]
    assert len(texts) == len(set(texts))
    expected = {}
    for i, t in rows:
        expected[t] = min(expected.get(t, i), i)
    assert sorted(i for i, _ in got) == sorted(expected.values())
    assert updated.count() == len(got)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.sampled_from(
            ["tok%d" % i for i in range(12)]
        ),
        min_size=5,
        max_size=200,
    )
)
def test_heavy_hitters_exact_on_random_streams(spark, toks):
    """MG candidates + recount must equal exact top-k on arbitrary
    token streams whenever capacity exceeds the distinct count (the
    sketch can then never evict a true heavy hitter)."""
    from collections import Counter

    from nyc_taxi_data_ingestion_spark.llm.text import heavy_hitters

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, text string"
    )
    got = [(r.token, r.cnt) for r in heavy_hitters(df, k=5, capacity=64).collect()]
    want = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == want


def _greedy_depth_py(events, stages):
    """Reference implementation: greedy stage matching over the total
    (ts, event_id) order, per user."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for eid, ts, user, etype in events:
        if etype in stages:
            by_user[user].append((ts, eid, etype))
    depths = {}
    for user, evs in by_user.items():
        d = 0
        for _, _, etype in sorted(evs):
            if d < len(stages) and etype == stages[d]:
                d += 1
        depths[user] = d
    return depths


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),    # ts second
            st.integers(min_value=1, max_value=5),     # user
            st.sampled_from(["a", "b", "c", "x"]),     # event type
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_depth_matches_greedy_reference(spark, evs):
    """The Catalyst array-walk must equal the sequential greedy
    reference on random event streams — including duplicate
    timestamps (broken by event_id) and out-of-order stage noise."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.operators.analytics import funnel_depth

    stages = ["a", "b", "c"]
    rows = [
        (i, f"2024-01-01 00:00:{s:02d}", u, t)
        for i, (s, u, t) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["user"]: r["depth"] for r in funnel_depth(df, stages).collect()}
    want = {
        u: d
        for u, d in _greedy_depth_py(
            [(i, s, u, t) for i, (s, u, t) in enumerate(evs)], stages
        ).items()
    }
    assert got == want


def _naive_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab cd", min_size=1, max_size=40),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.15, 0.3, 0.5]),
)
def test_edit_near_dups_matches_naive_all_pairs(spark, texts, tau):
    """Bag prune + banded DP must be LOSSLESS vs the naive O(n²)
    exact join, on adversarial short strings (repeats, shared chars,
    whitespace runs) at several thresholds."""
    from nyc_taxi_data_ingestion_spark.llm.dedup import edit_near_dups
    import re as _re

    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        (r.id_a, r.id_b): r.distance
        for r in edit_near_dups(
            df, block_cols=["lang", "source"], rel_threshold=tau
        ).collect()
    }
    norm = lambda t: _re.sub(r"\s+", " ", t.strip().lower())
    want = {}
    for i, a, *_ in rows:
        for j, b, *_ in rows:
            if i >= j:
                continue
            na, nb = norm(a), norm(b)
            mx = max(len(na), len(nb))
            d = _naive_lev(na, nb)
            if abs(len(na) - len(nb)) <= tau * mx and d <= tau * mx:
                want[(i, j)] = d
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=30
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    )
)
def test_window_dup_stats_matches_naive(spark, texts):
    """Hash-bucketed window stats must equal the naive string-keyed
    count on random token streams (k=3 to exercise short docs too)."""
    from nyc_taxi_data_ingestion_spark.llm.dedup import window_dup_stats
    from collections import Counter

    k = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_windows, r.dup_windows)
        for r in window_dup_stats(df, k=k).collect()
    }
    wins = {}
    for i, t in rows:
        toks = t.strip().lower().split()
        n = max(len(toks) - k, 0)
        wins[i] = [" ".join(toks[j : j + k]) for j in range(n + 1)]
    tot = Counter(w for ws in wins.values() for w in ws)
    want = {
        i: (len(ws), sum(1 for w in ws if tot[w] >= 2)) for i, ws in wins.items()
    }
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=14).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.5, 0.75, 0.9]),
)
def test_containment_pairs_matches_naive(spark, texts, tau):
    """The asymmetric prefix filter must be LOSSLESS vs naive exact
    containment over bigram shingle sets on random token streams."""
    from nyc_taxi_data_ingestion_spark.llm.dedup import containment_pairs

    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            df, block_cols=["lang", "source"], threshold=tau, k=2
        ).collect()
    }

    def sh2(t):
        toks = " ".join(t.strip().lower().split()).split(" ")
        if len(toks) < 2:
            return {" ".join(toks)}
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    want = set()
    for i, a, *_ in rows:
        for j, b, *_ in rows:
            if i == j:
                continue
            A, B = sh2(a), sh2(b)
            if len(A & B) / len(A) >= tau:
                want.add((i, j))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=80,
    ),
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
)
@pytest.mark.slow
def test_exact_quantiles_matches_builtin_percentile(spark, values, fracs):
    """Distributed rank-selection must be BIT-identical to the built-in
    exact `percentile` aggregate on arbitrary value sets and fractions
    (duplicates, negatives, single elements, extreme fracs 0/1) — the
    contract that lets the exact twins drop the single-buffer
    aggregate."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.functions.numeric import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = exact_quantiles(df, "x", fracs, n_buckets=8).collect()[0]
    arr = F.array(*[F.lit(float(p)) for p in fracs])
    exp = df.agg(F.percentile("x", arr).alias("p")).collect()[0]["p"]
    for i in range(len(fracs)):
        assert got[f"q{i}"] == exp[i], (fracs[i], got[f"q{i}"], exp[i])


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # group
            st.integers(min_value=0, max_value=10_000), # order key
            st.integers(min_value=-50, max_value=50),   # value
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@pytest.mark.slow
def test_partitioned_prefix_sum_matches_sequential(spark, rows):
    """The bucketed two-pass running sum must equal the sequential
    per-group prefix sum for arbitrary groups, sparse/duplicate-free
    order keys, and negative values — with n_buckets tiny so every
    boundary path is exercised."""
    from nyc_taxi_data_ingestion_spark.operators.transform import (
        partitioned_prefix_sum,
    )

    df = spark.createDataFrame(rows, "g int, o long, v long")
    got = {
        (r["g"], r["o"]): r["run"]
        for r in partitioned_prefix_sum(
            df, ["g"], "o", "v", "run", n_buckets=3
        ).collect()
    }
    want = {}
    by_group: dict[int, list] = {}
    for g, o, v in rows:
        by_group.setdefault(g, []).append((o, v))
    for g, items in by_group.items():
        acc = 0
        for o, v in sorted(items):
            want[(g, o)] = acc
            acc += v
    assert got == want


@pytest.mark.slow
def test_exact_quantiles_refinement_with_both_tails_active(spark, sf_dir):
    """Regression: with max_task_rows forced tiny, BOTH open-ended
    outer ranges (p near 0 and p near 1) stay active into the same
    refinement round — the active-range sort must handle None bounds
    (it once compared None with float and crashed). Values must still
    be bit-identical to the built-in percentile."""
    from nyc_taxi_data_ingestion_spark.functions.numeric import (
        exact_quantiles,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fracs = [0.001, 0.5, 0.999]
    got = exact_quantiles(
        li, "l_extendedprice", fracs, max_task_rows=50, n_buckets=4
    ).first()
    want = li.select(
        F.expr(
            "percentile(CAST(l_extendedprice AS DOUBLE), "
            "array(0.001D, 0.5D, 0.999D))"
        ).alias("p")
    ).first()["p"]
    assert [got[f"q{i}"] for i in range(3)] == list(want)


# -- snapshot lifecycle model test -------------------------------------------


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("overwrite"), st.lists(st.integers(0, 30), min_size=0, max_size=5)),
            st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
            st.tuples(st.just("delete"), st.integers(2, 5)),
            st.tuples(st.just("merge"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(st.just("delete_mor"), st.integers(2, 5)),
            st.tuples(st.just("merge_mor"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
            st.tuples(st.just("update_mor"), st.integers(2, 5)),
            st.tuples(st.just("rollback"), st.just(None)),
            st.tuples(st.just("rename"), st.just(None)),
        ),
        min_size=1,
        max_size=7,
    ),
    keep_last=st.integers(1, 3),
)
@pytest.mark.slow
def test_snapshot_lifecycle_matches_model(spark, tmp_path_factory, ops, keep_last):
    """Model-based check of the versioned-table DML algebra — the
    MERGE-ON-READ family, rollback, and (r9) metadata-only RENAME: an
    arbitrary op sequence against a plain-Python model tracking FULL
    (k, ts) rows plus the ts column's current logical name — every
    committed version must read back exactly the model's rows UNDER
    THAT VERSION'S COLUMN NAME (vectors applied, restored by rollback
    including the schema, materialized by compaction, renames replayed
    over pre-rename files), both before AND after expiry drops old
    manifests; expired versions must raise. ts doubles as the merge
    order key (last write wins; update_mor moves k but keeps ts, so
    stale-ts rows exist for merges to beat). MoR semantics in the
    model: delete_mor == delete; merge_mor masks EVERY live row of a
    matched key and appends the update once (unmatched duplicates
    survive — unlike CoW merge, which dedupes the whole union per key
    by max ts); update_mor re-inserts matched rows with the SET
    applied (k += 100, ts kept)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.sources.snapshots import (
        expire_snapshots,
        list_snapshots,
        read_snapshot,
        snapshot_compact,
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_merge,
        snapshot_merge_mor,
        snapshot_rename_column,
        snapshot_rollback,
        snapshot_update_mor,
        snapshot_write,
    )

    path = str(tmp_path_factory.mktemp("snap_model") / "t")
    ts_name = "ts"
    n_renames = 0

    def frame(rows_):
        return spark.createDataFrame(
            list(rows_), f"k long, {ts_name} long"
        )

    history: dict[int, list[tuple[int, int]]] = {}
    names: dict[int, str] = {}
    cur: list[tuple[int, int]] = []  # (k, ts); ts = k at insert
    committed = False
    for op, arg in ops:
        if op == "overwrite":
            cur = sorted((x, x) for x in arg)
            v = snapshot_write(
                frame((x, x) for x in arg), path, mode="overwrite"
            )
        elif op == "append":
            cur = sorted(cur + [(x, x) for x in arg])
            v = snapshot_write(
                frame((x, x) for x in arg), path, mode="append"
            )
        elif op == "delete":
            if not committed:
                continue
            cur = sorted(r for r in cur if r[0] % arg != 0)
            v = snapshot_delete(spark, path, F.col("k") % arg == 0)
        elif op == "merge":
            # upsert on k: ONE row per key survives the whole union,
            # max ts wins (merged rows carry ts = k, which is >= any
            # stale ts an update_mor left behind for that key)
            keys = set(arg)
            surv: dict[int, int] = {}
            for k_, t_ in cur:
                if k_ in keys:
                    continue
                if k_ not in surv or t_ > surv[k_]:
                    surv[k_] = t_
            for k_ in keys:
                surv[k_] = max(surv.get(k_, k_), k_)
            cur = sorted(surv.items())
            v = snapshot_merge(
                spark,
                path,
                frame((x, x) for x in sorted(keys)),
                keys=["k"],
                order_col=ts_name,
            )
        elif op == "compact":
            if not committed:
                continue
            v = snapshot_compact(spark, path, target_partitions=1)
        elif op == "delete_mor":
            if not committed:
                continue
            new_cur = sorted(r for r in cur if r[0] % arg != 0)
            if new_cur == sorted(cur):
                continue  # no match: no commit (documented no-op)
            cur = new_cur
            v = snapshot_delete_mor(spark, path, F.col("k") % arg == 0)
        elif op == "merge_mor":
            if not committed:
                continue
            keys = sorted(set(arg))
            # every live row of a matched key is masked; the update
            # row appends ONCE per key; unmatched duplicates survive
            cur = sorted(
                [r for r in cur if r[0] not in set(keys)]
                + [(x, x) for x in keys]
            )
            v = snapshot_merge_mor(
                spark, path, frame((x, x) for x in keys), keys=["k"]
            )
        elif op == "update_mor":
            if not committed:
                continue
            if not any(r[0] % arg == 0 for r in cur):
                continue  # no match: no commit
            cur = sorted(
                (k_ + 100, t_) if k_ % arg == 0 else (k_, t_)
                for k_, t_ in cur
            )
            v = snapshot_update_mor(
                spark, path, F.col("k") % arg == 0,
                {"k": F.col("k") + 100},
            )
        elif op == "rollback":
            if not committed:
                continue
            first_v = min(history)
            cur = list(history[first_v])
            ts_name = names[first_v]
            v = snapshot_rollback(path, first_v)
        elif op == "rename":
            if not committed:
                continue
            n_renames += 1
            new_name = f"ts_r{n_renames}"
            v = snapshot_rename_column(path, ts_name, new_name)
            ts_name = new_name
        committed = True
        history[v] = list(cur)
        names[v] = ts_name

    if not committed:
        return

    def check(ver, want):
        df = read_snapshot(spark, path, version=ver)
        assert sorted(df.columns) == sorted(["k", names[ver]]), (
            ver, df.columns, names[ver]
        )
        got = sorted(
            (r["k"], r[names[ver]]) for r in df.collect()
        )
        assert got == want, (ver, got, want)

    # every surviving version reads back its model rows under its own
    # column name (the model tracks multiplicity — compare multisets)
    for ver, want in history.items():
        check(ver, want)
    expire_snapshots(path, keep_last=keep_last)
    alive = {s["version"] for s in list_snapshots(path)}
    head = max(history)
    assert head in alive
    for ver, want in history.items():
        if ver in alive:
            check(ver, want)
        else:
            # the docstring's other half: expired versions must RAISE,
            # never silently fall back to the head
            with pytest.raises(FileNotFoundError, match="expired or never"):
                read_snapshot(spark, path, version=ver)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdef"), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.34, 0.5, 0.8]),
)
@pytest.mark.slow
def test_blocked_jaccard_matches_naive_all_pairs(spark, texts, tau):
    """Prefix filtering (AllPairs candidate rule) must be LOSSLESS vs
    the naive O(n²) set-Jaccard join on random short token streams —
    heavy repeats make many docs share every token, tiny docs make the
    prefix length degenerate to 1."""
    import re as _re

    from nyc_taxi_data_ingestion_spark.llm.dedup import (
        blocked_jaccard_pairs,
    )

    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in blocked_jaccard_pairs(
            df, block_cols=["lang", "source"], k=1, threshold=tau
        ).collect()
    }
    toks = {
        i: set(_re.sub(r"\s+", " ", t.strip().lower()).split(" "))
        for i, t, *_ in rows
    }
    want = {}
    for i in toks:
        for j in toks:
            if i >= j:
                continue
            inter = len(toks[i] & toks[j])
            union = len(toks[i] | toks[j])
            jac = inter / union if union else 0.0
            if jac >= tau:
                want[(i, j)] = round(jac, 9)
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.slow
def test_min_hop_closure_matches_naive_bfs(spark, edges):
    """Level-synchronous DataFrame BFS must equal a per-source python
    BFS on random directed graphs with cycles and self-loops."""
    from collections import deque

    from nyc_taxi_data_ingestion_spark.operators.analytics import (
        min_hop_closure,
    )

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    got = {
        (r.src, r.dst): r.min_hops for r in min_hop_closure(df).collect()
    }
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(f"n{a}", set()).add(f"n{b}")
    want = {}
    for root in {f"n{a}" for a, _ in edges}:
        q = deque([(root, 0)])
        seen = set()
        while q:
            node, d = q.popleft()
            for nxt in adj.get(node, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    want[(root, nxt)] = d + 1
                    q.append((nxt, d + 1))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),            # group
            st.integers(min_value=-20, max_value=20),    # value (ties!)
            st.integers(min_value=0, max_value=10_000),  # tie key
        ),
        min_size=1,
        max_size=100,
        unique_by=lambda r: (r[0], r[2]),
    )
)
@pytest.mark.slow
def test_grouped_select_at_ranks_matches_sorted(spark, rows):
    """Distributed grouped rank selection must return exactly the row a
    per-group (value, tie) sort puts at each requested rank — for
    arbitrary groups, heavy value ties, and first/middle/last ranks."""
    from nyc_taxi_data_ingestion_spark.functions.numeric import (
        grouped_select_at_ranks,
    )

    df = spark.createDataFrame(rows, "g string, v int, t int")

    def ranks(n):
        return [1, (n + 1) // 2, n]

    got = grouped_select_at_ranks(df, "g", "v", "t", ranks, n_buckets=4)
    by_group: dict[str, list] = {}
    for g, v, t in rows:
        by_group.setdefault(g, []).append((float(v), float(t)))
    for g, items in by_group.items():
        items.sort()
        n = len(items)
        want = [items[r - 1] for r in ranks(n)]
        assert [(v, t) for v, t, _n, _r in got[g]] == want, (g, n)
        assert [r for _v, _t, _n, r in got[g]] == ranks(n)
        assert all(m == n for _v, _t, m, _r in got[g])


@pytest.mark.slow
def test_grouped_select_at_ranks_narrowing_path(spark, sf_dir):
    """Force the histogram-refinement rounds (max_task_rows tiny) on a
    real table: the narrowed result must equal the unnarrowed one —
    including the tie-collapse path exercised by o_orderpriority ties
    on o_totalprice at low bucket counts."""
    from nyc_taxi_data_ingestion_spark.functions.numeric import (
        grouped_select_at_ranks,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def ranks(n):
        return [1, max(1, (9 * n) // 10), n]

    wide = grouped_select_at_ranks(
        o, "o_orderpriority", "o_totalprice", "o_orderkey", ranks
    )
    narrow = grouped_select_at_ranks(
        o, "o_orderpriority", "o_totalprice", "o_orderkey", ranks,
        max_task_rows=25, n_buckets=4,
    )
    assert wide == narrow


def test_audit_low_cardinality_window(spark, sf_dir):
    """The low-cardinality-window check must flag a window partitioned
    only by a tiny-domain column, pass one with a high-cardinality key
    mixed in, and EXEMPT rank-filter windows Spark already bounds via
    WindowGroupLimit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    flagged = o.withColumn("pr", F.percent_rank().over(w))
    assert "low-cardinality-window" in [
        f.code for f in audit_plan(flagged)
    ]
    w2 = Window.partitionBy("o_orderpriority", "o_custkey").orderBy(
        "o_totalprice"
    )
    mixed = o.withColumn("rn", F.row_number().over(w2))
    assert "low-cardinality-window" not in [
        f.code for f in audit_plan(mixed)
    ]
    limited = o.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    assert "low-cardinality-window" not in [
        f.code for f in audit_plan(limited)
    ]


@pytest.mark.slow
def test_grouped_select_at_ranks_mode_skew_makes_progress(spark):
    """r9 review: when one value holds most of a group's mass the
    sketch puts every boundary ON it and bucket narrowing stalls — the
    mode-split fallback must still resolve (a) a rank inside the tie
    class and (b) one above it, exactly, with a tiny task bound."""
    from nyc_taxi_data_ingestion_spark.functions.numeric import (
        grouped_select_at_ranks,
    )

    rows = (
        [("g", 1, t) for t in range(5)]
        + [("g", 5, 100 + t) for t in range(2000)]  # 99% at one value
        + [("g", 9, 9000 + t) for t in range(5)]
    )
    df = spark.createDataFrame(rows, "g string, v int, t int")
    n = len(rows)

    def ranks(m):
        return [1, 1000, m - 2, m]  # inside the mass and in the tail

    got = grouped_select_at_ranks(
        df, "g", "v", "t", ranks, max_task_rows=50, n_buckets=4
    )
    items = sorted((float(v), float(t)) for _g, v, t in rows)
    want = [items[r - 1] for r in ranks(n)]
    assert [(v, t) for v, t, _n, _r in got["g"]] == want


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_schema_log_forward_replay_inverts_physical_column(data):
    """The forward replay (_replay_schema_ops, every read path) and
    the reverse walk (_physical_column, stats/pruning translation)
    must be exact inverses over any VALID op sequence: every surviving
    logical column maps back to the physical column whose values it
    shows, and every logical name with no physical backing (dropped,
    or renamed-away then re-added by later files) maps to None —
    random rename/drop chains including name reuse of freed names."""
    from nyc_taxi_data_ingestion_spark.sources.snapshots import (
        _physical_column,
        _replay_schema_ops,
        _schema_ops_for_commit,
    )

    names = ["a", "b", "c", "d"]
    pool = names + ["e", "f", "g"]
    live = set(names)  # current logical schema
    ops = []
    for i in range(data.draw(st.integers(0, 8))):
        kind = data.draw(st.sampled_from(["rename", "drop"]))
        if not live:
            break
        if kind == "rename":
            frm = data.draw(st.sampled_from(sorted(live)))
            free = [n for n in pool if n not in live]
            if not free:
                continue
            to = data.draw(st.sampled_from(free))
            ops.append(
                {"op": "rename", "from": frm, "to": to, "v": i + 2,
                 "applies_to": ["data/c1"]}
            )
            live.remove(frm)
            live.add(to)
        else:
            col = data.draw(st.sampled_from(sorted(live)))
            ops.append(
                {"op": "drop", "column": col, "v": i + 2,
                 "applies_to": ["data/c1"]}
            )
            live.remove(col)

    commit_ops = _schema_ops_for_commit(ops, "data/c1")
    assert commit_ops == ops  # all entries apply to this commit
    final = _replay_schema_ops([(n, n) for n in names], commit_ops)
    # surviving logical names match the simulated live-set evolution
    assert [n for n, _ in final] == [
        n for n, _ in final if n in live
    ]
    for logical, physical in final:
        assert _physical_column(ops, "data/c1", logical) == physical
    # names FREED by a rename/drop and not since re-backed by another
    # rename resolve to None: a later file re-adding them is a fresh
    # lineage whose value is NULL in this commit, so no recorded bound
    # of the old physical column may serve it
    surviving = {n for n, _ in final}
    freed = {
        e["from"] if e["op"] == "rename" else e["column"] for e in ops
    }
    for n in freed - surviving:
        assert _physical_column(ops, "data/c1", n) is None


@given(data=st.data())
@settings(max_examples=120, deadline=None)
def test_bounds_exclude_soundness_against_arrow_footers(tmp_path_factory, data):
    """Pruning soundness, model-checked against REAL arrow-cpp footers:
    for random float columns (values, NULLs, NaN, ±inf mixed) and a
    random range conjunct, whenever the recorded stats entry proves
    the file empty, NO value in the file satisfies the predicate under
    SPARK's semantics (NULL matches nothing; NaN is greater than every
    value, so it matches any lower bound and no finite upper). The
    null-predicate twin is checked the same way."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_data_ingestion_spark.sources.snapshots import (
        _collect_file_stats,
        _file_provably_empty,
        null_count_exclude,
    )

    vals = data.draw(
        st.lists(
            st.one_of(
                st.none(),
                st.floats(allow_nan=True, allow_infinity=True, width=64),
            ),
            min_size=1,
            max_size=12,
        )
    )
    lower = data.draw(st.none() | st.floats(allow_nan=False, width=64))
    upper = data.draw(st.none() | st.floats(allow_nan=False, width=64))

    d = tmp_path_factory.mktemp("bx")
    pq.write_table(
        pa.table({"x": pa.array(vals, type=pa.float64())}),
        str(d / "f.parquet"),
    )
    stats = _collect_file_stats(None, str(d), ["f.parquet"], ["x"])
    entry = (stats.get("f.parquet") or {}).get("x")

    def spark_matches(v):
        if v is None:
            return False
        if math.isnan(v):
            # Spark: NaN > every value — matches any lower, no upper
            return upper is None
        return (lower is None or v >= lower) and (
            upper is None or v <= upper
        )

    if (lower is not None or upper is not None) and _file_provably_empty(
        {"x": entry} if entry else {}, [("x", lower, upper)]
    ):
        assert not any(spark_matches(v) for v in vals), (
            vals, lower, upper, entry,
        )
    if null_count_exclude(entry, is_null=True):
        assert not any(v is None for v in vals), (vals, entry)
    if null_count_exclude(entry, is_null=False):
        assert all(v is None for v in vals), (vals, entry)


_REL = st.integers(min_value=0, max_value=9).map(lambda i: f"data/c{i:08d}-ab")


@st.composite
def _table_states(draw):
    """A sequence of per-version file states: each is (commits, stats,
    deletes) with small random file lists — append-like (superset of
    previous), overwrite-like (fresh), or arbitrary (partial rewrite)."""
    states = []
    cur: dict[str, list[str]] = {}
    for _ in range(draw(st.integers(min_value=1, max_value=6))):
        kind = draw(st.sampled_from(["append", "overwrite", "rewrite"]))
        if kind == "overwrite":
            cur = {}
        elif kind == "rewrite" and cur:
            drop = draw(st.sampled_from(sorted(cur)))
            cur = {k: v for k, v in cur.items() if k != drop}
        rel = f"data/c{len(states):08d}-{draw(st.integers(0, 99)):02d}"
        cur = dict(cur)
        cur[rel] = sorted(
            f"part-{i:05d}.parquet"
            for i in range(draw(st.integers(min_value=0, max_value=5)))
        )
        stats = {
            r: {fs[0]: [0, 1]} for r, fs in cur.items() if fs
        } if draw(st.booleans()) else {}
        deletes = (
            {f"data/d{len(states):08d}-00": ["dv-0.parquet"]}
            if draw(st.booleans())
            else {}
        )
        states.append((dict(cur), stats, deletes))
    return states


@settings(max_examples=60, deadline=None)
@given(_table_states(), st.integers(min_value=0, max_value=8))
def test_sharded_manifests_roundtrip_and_compact_losslessly(
    tmp_path_factory, states, threshold
):
    """PROPERTY (r9 verdict item 2): for ANY commit sequence and any
    inline threshold, a manifest committed through the sharding step
    resolves back to exactly the state that was committed — and
    snapshot_rewrite_manifests preserves it bit-identically while
    reducing the shard count to the target. Pure metadata layer: no
    Spark, no parquet."""
    import os

    from nyc_taxi_data_ingestion_spark.sources import snapshots as S

    path = str(tmp_path_factory.mktemp("shardprop"))
    os.makedirs(S._snap_root(path), exist_ok=True)
    old_max = S._SHARD_INLINE_MAX
    S._SHARD_INLINE_MAX = threshold
    try:
        parent: dict = {}
        for v, (commits, stats, deletes) in enumerate(states, start=1):
            manifest = {
                "version": v,
                "parent": v - 1 if v > 1 else None,
                "operation": "append",
                "timestamp": float(v),
                "partition_by": [],
                "commits": commits,
            }
            if stats:
                manifest["stats"] = stats
            if deletes:
                manifest["deletes"] = deletes
            assert S._land(path, dict(manifest), reuse_base=parent) == v
            resolved = S._load_manifest(path, v)
            assert resolved["commits"] == commits
            assert (resolved.get("stats") or {}) == stats
            assert (resolved.get("deletes") or {}) == deletes
            parent = resolved
        head = S.current_version(path)
        before = S._load_manifest(path, head)
        rep = S.snapshot_rewrite_manifests(path, target_shards=1)
        after = S._load_manifest(path, rep["version"])
        assert after["commits"] == before["commits"]
        assert (after.get("stats") or {}) == (before.get("stats") or {})
        assert (after.get("deletes") or {}) == (
            before.get("deletes") or {}
        )
        assert len(after.get("shards") or []) <= max(
            1, len(before.get("shards") or [])
        )
    finally:
        S._SHARD_INLINE_MAX = old_max


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sampled_from(["app", "col", "ren", "drop", "part", "ow"]),
        min_size=1,
        max_size=5,
    )
)
def test_schema_record_equals_walk_for_any_lifecycle(
    spark, tmp_path_factory, ops
):
    """PROPERTY (r12): for ANY sequence of lifecycle operations —
    plain appends, column-adding appends, metadata-only rename/drop,
    Hive-partitioned appends interleaved with flat ones, overwrite —
    the union schema RECORDED in the manifest head equals what the
    legacy one-footer-per-commit walk computes from the same state.
    This is the invariant every recorded_schema fast path (batch
    format, stream source) rides on; the incremental append unify,
    the O(1) schema-op transform with its Hive guard, and the full
    recompute must all land on the walk's answer."""
    import json as _json

    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.sources import snapshots as S
    from nyc_taxi_data_ingestion_spark.sources.pydatasource import (
        _table_arrow_schema,
    )

    path = str(tmp_path_factory.mktemp("recprop")) + "/t"
    S.snapshot_write(
        spark.range(0, 4).select(F.col("id"), F.lit("a").alias("tag")),
        path,
        stats_cols=["id"],
    )
    cols = {"id", "tag"}
    lo = 100
    for op in ops:
        if op == "app":
            S.snapshot_write(spark.range(lo, lo + 3), path, mode="append")
        elif op == "col":
            S.snapshot_write(
                spark.range(lo, lo + 3).select(
                    F.col("id"), F.lit(2.5).alias("extra")
                ),
                path,
                mode="append",
            )
            cols.add("extra")
        elif op == "ren" and "tag" in cols and "label" not in cols:
            S.snapshot_rename_column(path, "tag", "label")
            cols.discard("tag")
            cols.add("label")
        elif op == "drop" and "extra" in cols:
            S.snapshot_drop_column(path, "extra")
            cols.discard("extra")
        elif op == "part":
            S.snapshot_write(
                spark.range(lo, lo + 4).select(
                    F.col("id"), (F.col("id") % 2).alias("bucket")
                ),
                path,
                mode="append",
                partition_by=["bucket"],
            )
            cols.add("bucket")
        elif op == "ow":
            S.snapshot_write(
                spark.range(0, 4).select(
                    F.col("id"), F.lit("z").alias("tag")
                ),
                path,
                mode="overwrite",
            )
            cols = {"id", "tag"}
        lo += 10
        raw = _json.load(
            open(S._manifest_path(path, S.current_version(path)))
        )
        rec = S.recorded_schema(raw)
        stripped = {
            k: v
            for k, v in raw.items()
            if k not in ("arrow_schema_b64", "partition_schema_b64")
        }
        walk = _table_arrow_schema(
            path, S._resolve_manifest(path, stripped)
        )
        assert rec is not None and rec.equals(walk), (
            f"record != walk after {op}: {rec} vs {walk}"
        )
