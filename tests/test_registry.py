"""Driver-contract registry invariants.

The driver's correctness gate checks ONLY the first 50 ``queries()``
entries.  In r13 the registry silently grew to 52: position 51
(`sampling_prefix`) never ran and position 52 — `curation_pipeline`, the
capstone, green since r6 — dropped off the scoreboard entirely
(CORRECTNESS_r13 has neither; VERDICT r13 §What's wrong 2).  These tests
make that failure mode loud and local instead of a silent driver-side
truncation one round later.

No Spark session needed — the registry builds lazily.
"""

from tikv_data_compare_spark import queries as q

#: the driver's documented correctness window
DRIVER_WINDOW = 50


def test_registry_is_exactly_the_driver_window():
    names = list(q.queries())
    assert len(names) == DRIVER_WINDOW, (
        f"queries() has {len(names)} entries; the driver checks only the "
        f"first {DRIVER_WINDOW} — anything after "
        f"{names[DRIVER_WINDOW - 1] if len(names) >= DRIVER_WINDOW else '?'} "
        "is silently ungated (the r13 overflow). Fold new operators into "
        "an existing labeled-union row instead of appending."
    )


def test_every_query_has_an_oracle_and_vice_versa():
    qs, os_ = set(q.queries()), set(q.oracle_sql())
    assert qs == os_, (
        f"queries-without-oracle: {sorted(qs - os_)}; "
        f"oracles-without-query: {sorted(os_ - qs)}"
    )


def test_capstone_and_localization_rows_are_inside_the_window():
    # the active localization set is governed by SURVEY §8 "REGISTRY — the
    # 50-row window swap policy": a slice enters when its family row reds
    # unattributably, exits after ≥2 green rounds once a stronger invariant
    # covers the failure class; update the policy section and this list in
    # the same commit
    # r16 swap: sampling_dsir EXITED (exit condition met — family green
    # r14+r15, failure class closed by literal freeze + margin audit);
    # quality_classifier is the slot's tenant (VERDICT r15 task 4)
    names = list(q.queries())[:DRIVER_WINDOW]
    for must in ("curation_pipeline", "sampling", "quality_classifier"):
        assert must in names, f"{must} fell outside the driver window"


def test_swap_candidates_stay_ready():
    # SURVEY §8 REGISTRY keeps the retired localization slices out of the
    # window but ready to swap back in (q_sampling_dsir since r16,
    # q_sampling_prefix since r14); losing any silently removes the
    # documented swap option
    from tikv_data_compare_spark import queries_ext as qe

    assert callable(qe.q_sampling_prefix)
    assert callable(qe.q_sampling_dsir)
    assert "token_budget" in qe.ORACLE_SAMPLING_PREFIX
    assert "dsir" in qe.oracle_sampling_dsir("/root/testdata/sf0.001")
