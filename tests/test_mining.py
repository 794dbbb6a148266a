"""Unit tests for operators/mining.py on hand-computed fixtures."""

from worlddatapipeline_spark.operators import mining as mining_ops


def test_association_rules_hand_computed(spark):
    # 4 baskets: {a,b}, {a,b}, {a,c}, {b}
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    out = {
        (r.ante, r.conseq): r
        for r in mining_ops.association_rules(
            df, "bk", "it", min_support_ppm=0
        ).collect()
    }
    ab = out[("a", "b")]
    # n_ab=2, n_baskets=4, n_a=3, n_b=3
    assert ab.n_ab == 2
    assert ab.support_ppm == 500000
    assert ab.confidence_ppm == 666666  # floor(2e6/3)
    assert ab.lift_ppm == 888888  # floor(2*4*1e6/9)
    ba = out[("b", "a")]
    assert ba.confidence_ppm == 666666 and ba.lift_ppm == 888888
    ac = out[("a", "c")]
    assert ac.n_ab == 1 and ac.confidence_ppm == 333333
    # lift(a->c) = 1*4/(3*1) = 1.333...
    assert ac.lift_ppm == 1333333


def test_basket_cap_drops_whole_basket(spark):
    # basket 1 has 3 items -> dropped entirely under max_items=2: its
    # items must vanish from item counts AND the basket total.
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, ["bk", "it"])
    out = mining_ops.association_rules(
        df, "bk", "it", min_support_ppm=0, max_items=2
    ).collect()
    by_pair = {(r.ante, r.conseq): r for r in out}
    assert set(by_pair) == {("a", "b"), ("b", "a")}
    ab = by_pair[("a", "b")]
    # only basket 2 survives: n_ab=1, n_baskets=1, n_a=n_b=1
    assert ab.n_ab == 1
    assert ab.support_ppm == 1000000
    assert ab.lift_ppm == 1000000


def test_cooccurrence_cosine_square(spark):
    # contexts: {x,y} twice, {x} once -> n_x=3, n_y=2, n_xy=2
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x")]
    df = spark.createDataFrame(rows, ["ctx", "it"])
    out = mining_ops.cooccurrence_cosine(df, "ctx", "it").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b, r.n_ab) == ("x", "y", 2)
    # cos^2 = 4/6 -> floor(4e6/6) = 666666
    assert r.cos2_ppm == 666666


def test_association_rules_match_bruteforce_on_seeded_random(spark):
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        rows = []
        baskets = {}
        for bk in range(20):
            items = rng.sample("abcdef", rng.randint(1, 5))
            baskets[bk] = set(items)
            rows += [(bk, it) for it in items]
        df = spark.createDataFrame(rows, ["bk", "it"])
        got = {
            (r.ante, r.conseq): (
                r.n_ab,
                r.support_ppm,
                r.confidence_ppm,
                r.lift_ppm,
            )
            for r in mining_ops.association_rules(
                df, "bk", "it", min_support_ppm=0
            ).collect()
        }
        # brute force with the same exact integer formulas
        n = len(baskets)
        item_n = {}
        for s in baskets.values():
            for it in s:
                item_n[it] = item_n.get(it, 0) + 1
        want = {}
        for a in item_n:
            for b in item_n:
                if a == b:
                    continue
                n_ab = sum(1 for s in baskets.values() if a in s and b in s)
                if n_ab == 0:
                    continue
                want[(a, b)] = (
                    n_ab,
                    (n_ab * 1000000) // n,
                    (n_ab * 1000000) // item_n[a],
                    (n_ab * n * 1000000) // (item_n[a] * item_n[b]),
                )
        assert got == want, f"seed {seed}"


def test_cooccurrence_cosine_matches_bruteforce_on_seeded_random(spark):
    import random

    for seed in (3, 4):
        rng = random.Random(seed)
        rows = []
        ctxs = {}
        for c in range(15):
            items = rng.sample("pqrst", rng.randint(1, 4))
            ctxs[c] = set(items)
            rows += [(c, it) for it in items]
        df = spark.createDataFrame(rows, ["ctx", "it"])
        got = {
            (r.item_a, r.item_b): (r.n_ab, r.cos2_ppm)
            for r in mining_ops.cooccurrence_cosine(df, "ctx", "it").collect()
        }
        item_n = {}
        for s in ctxs.values():
            for it in s:
                item_n[it] = item_n.get(it, 0) + 1
        want = {}
        for a in item_n:
            for b in item_n:
                if a >= b:
                    continue
                n_ab = sum(1 for s in ctxs.values() if a in s and b in s)
                if n_ab == 0:
                    continue
                want[(a, b)] = (
                    n_ab,
                    (n_ab * n_ab * 1000000) // (item_n[a] * item_n[b]),
                )
        assert got == want, f"seed {seed}"


def test_fuzzy_record_linkage_router_branches_identical(spark, monkeypatch):
    """The size-routed hybrid (r11) must return the SAME one-row audit
    from both physical plans: the reference block equi-join (roster at
    or under FUZZY_FASTSS_MIN_ROWS) and the FastSS
    deletion-neighborhood form (above it)."""
    from worlddatapipeline_spark import queries_mining
    from worlddatapipeline_spark.queries_mining import q_fuzzy_record_linkage

    sf_dir = "/root/testdata/sf0.001"
    monkeypatch.setattr(queries_mining, "FUZZY_FASTSS_MIN_ROWS", 1000000000)
    block = q_fuzzy_record_linkage(spark, sf_dir)
    block_rows = [tuple(r) for r in block.collect()]
    block_plan = block._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(queries_mining, "FUZZY_FASTSS_MIN_ROWS", 0)
    fastss = q_fuzzy_record_linkage(spark, sf_dir)
    fastss_rows = [tuple(r) for r in fastss.collect()]
    fastss_plan = fastss._jdf.queryExecution().executedPlan().toString()

    assert block_rows == fastss_rows
    assert block.columns == fastss.columns
    # the router really switched plans: FastSS explodes xxhash64 variant
    # keys, the block join does not
    assert "xxhash64" in fastss_plan
    assert "xxhash64" not in block_plan
