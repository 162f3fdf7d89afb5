"""One evaluator per answer: registered queries that share an oracle share
one callable, unless the pair is kept below with its reason.

A retired twin stays registered as an alias (``catalog.ALIASES``): its
name runs the survivor's callable and is checked against the same
oracle, so the name count and every oracle check survive the deletion.
"""

from __future__ import annotations

from collections import defaultdict

from finporter_spark.queries.catalog import ALIASES, CATALOG

# Pairs that keep two evaluators for one answer, because the two run
# different engine surfaces the catalog covers.
KEPT_PAIRS = {
    frozenset({"x1_stream_file_source", "x2_tumbling_window"}):
        "a batch window aggregate and its Structured Streaming "
        "(file-source, complete mode) twin",
    frozenset({"a40_psi_drift", "x18_stream_psi_monitor"}):
        "a batch PSI drift score and its Structured Streaming twin",
    frozenset({"a42_psi_weekly", "x18b_stream_psi_weekly"}):
        "a batch weekly PSI and its Structured Streaming twin",
    frozenset({"o10_cdc_apply", "x22_stream_cdc_upsert"}):
        "a batch CDC apply and its Structured Streaming upsert twin",
}


def _oracle_groups() -> list[set[str]]:
    groups: dict[str, set[str]] = defaultdict(set)
    for name, (_fn, sql) in CATALOG.items():
        if sql is not None:
            groups[" ".join(sql.split())].add(name)
    return [names for names in groups.values() if len(names) > 1]


def test_each_answer_has_one_evaluator_or_a_kept_reason():
    unexplained = []
    for names in _oracle_groups():
        if len({CATALOG[n][0] for n in names}) == 1:
            continue
        evaluators = frozenset(n for n in names if n not in ALIASES)
        if evaluators not in KEPT_PAIRS:
            unexplained.append(sorted(names))
    assert not unexplained, unexplained


def test_kept_pairs_still_share_an_oracle():
    shared = [frozenset(g) for g in _oracle_groups()]
    for pair in KEPT_PAIRS:
        assert any(pair <= g for g in shared), sorted(pair)


def test_every_alias_runs_a_registered_survivor():
    assert ALIASES
    for name, (survivor, reason) in ALIASES.items():
        assert survivor in CATALOG and survivor not in ALIASES, name
        assert CATALOG[name] == CATALOG[survivor], name
        assert CATALOG[name][1] is not None, name  # hash-checked
        assert reason.strip(), name


def test_no_alias_is_timed_by_the_bench():
    import bench

    timed = bench.timed_queries()
    assert len(timed) == len(set(timed))
    assert set(timed) == set(CATALOG) - set(ALIASES)
