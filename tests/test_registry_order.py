"""Registry rotation — the driver checks only the first 50 entries,
so ordering IS the correctness-gate coverage policy.

Policy (round 4+): drain the never-driver-checked backlog fastest.
Tier 0 = checked-but-failed (prove the fix), tier 1 = never checked
(contract block first), tier 2+ = ever-green
(least-verified first). While a backlog exists, already-green queries
yield their window slots; LOCAL_PARITY + pytest cover them between
driver rows. Once the backlog drains, the window returns to
re-verifying the §2.B contract block every round.
"""

from hls_stac_parquet_spark.queries import CONTRACT_QUERIES, REGISTRY


def test_contract_set_fits_driver_window():
    assert len(CONTRACT_QUERIES) <= 50


def test_rotation_is_tier_sorted():
    """Failed-last-round first (prove the fix), then never-checked,
    then verified (least-verified first) — so every registered query
    eventually earns a CORRECTNESS row."""
    from hls_stac_parquet_spark.queries import load_check_history

    hist = load_check_history()
    if not hist:
        return  # fresh clone: nothing to assert
    names = list(REGISTRY)

    def tier(name):
        ent = hist.get(name, {"checked": [], "green": []})
        if ent["checked"] and not ent["green"]:
            return 0
        if not ent["checked"]:
            return 1
        return 2 + len(ent["green"])

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers)


def test_rows_only_driver_rows_count_as_green():
    """A driver row with err == "no_oracle" and spark_rows >= 0 is the
    rows-only pass — it must go green, not clog tier 0 forever.
    Regression test for the round-2 verdict's top finding."""
    from hls_stac_parquet_spark.queries import load_check_history

    hist = load_check_history()
    if not hist:
        return
    # q_ann_ivf/q_ann_lsh/q_approx_percentile/q_minhash_dedup/
    # q_count_distinct_approx all got no_oracle rows in round 2
    for name in ("q_ann_ivf", "q_ann_lsh", "q_approx_percentile"):
        ent = hist.get(name)
        if ent and ent["checked"]:
            assert ent["green"], f"{name} checked-but-never-green: rows-only clog"


def test_no_already_green_query_in_window_while_backlog_exists():
    """Every window slot must be spent on a query without a
    driver-green row while ≥50 never-green queries wait — the
    backlog-drain mandate from the round-3 verdict."""
    from hls_stac_parquet_spark.queries import load_check_history

    hist = load_check_history()
    if not hist:
        return
    window = list(REGISTRY)[:50]
    never_green = [n for n in REGISTRY if not hist.get(n, {}).get("green")]
    if len(never_green) < 50:
        return  # backlog drained: green re-verification is correct
    for n in window:
        if hist.get(n, {}).get("green"):
            raise AssertionError(f"green query {n} occupies a backlog slot")


def test_contract_queries_lead_their_tiers():
    """Within the never-checked and ever-green tiers, §2.B contract
    queries come before non-contract ones (same tier) so the declared
    surface re-verifies soonest."""
    from hls_stac_parquet_spark.queries import load_check_history

    hist = load_check_history()
    names = list(REGISTRY)

    def tier(name):
        ent = hist.get(name, {"checked": [], "green": []})
        if ent["checked"] and not ent["green"]:
            return 0
        if not ent["checked"]:
            return 1
        return 2 + len(ent["green"])

    by_tier = {}
    for i, n in enumerate(names):
        by_tier.setdefault(tier(n), []).append(n)
    for t, members in by_tier.items():
        contract_pos = [i for i, n in enumerate(members) if n in CONTRACT_QUERIES]
        other_pos = [i for i, n in enumerate(members) if n not in CONTRACT_QUERIES]
        if contract_pos and other_pos:
            assert max(contract_pos) < min(other_pos), f"tier {t}"


def test_every_query_callable_and_oracle_typed():
    for name, spec in REGISTRY.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name
