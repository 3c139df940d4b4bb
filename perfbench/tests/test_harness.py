"""Tests of the harness's pure parts (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import statistics

import pytest

from perfbench import gen
from perfbench.band import cells_match, column_places
from perfbench.stats import beyond, decide, percentile, spread, tail_percentile
from perfbench.trace import Span, self_times


# -- seeded generators ---------------------------------------------------------------

GENERATORS = {
    "corpus": lambda seed: gen.corpus(seed, 2, 5),
    "search_requests": lambda seed: gen.search_requests(seed, 30, ["lib0", "lib1"]),
    "variant_requests": lambda seed: gen.variant_requests(seed, 10),
    "ingest_cycles": lambda seed: gen.ingest_cycles(seed, 5, ["lib0", "lib1"]),
    "catalog_tables": lambda seed: {k: t.to_pydict() for k, t in gen.catalog_tables(seed).items()},
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_repeat_per_seed_and_differ_across_seeds(name):
    make = GENERATORS[name]
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_corpus_mixes_markdown_and_text_per_library():
    docs = gen.corpus(3, 2, 40)
    for lib in ("lib0", "lib1"):
        suffixes = {d.name.rsplit(".", 1)[1] for d in docs if d.library == lib}
        assert suffixes == {"md", "txt"}


def test_search_requests_cover_every_scope_and_top_k():
    reqs = gen.search_requests(5, 60, ["lib0", "lib1"])
    assert {r["top_k"] for r in reqs} == {5, 10, 20}
    assert [r["top_k"] for r in reqs[:9]] == [10] * 3 + [5] * 3 + [20] * 3
    assert any("library" in r for r in reqs) and any("filter" in r for r in reqs)
    assert any(not ({"library", "filter"} & set(r)) for r in reqs)
    assert {len(r["query"].split()) for r in reqs} <= {1, 2, 3, 4}
    assert any(t in gen.RARE for r in reqs for t in r["query"].split())


def test_variant_requests_take_their_variant_and_term_count_from_the_cycle():
    for i, reqs in enumerate(gen.variant_requests(4, 8)):
        assert [{k: v for k, v in r.items() if k not in ("query", "top_k")} for r in reqs] \
            == [gen.DIVERSIFY, gen.VARIANTS[i % len(gen.VARIANTS)]]
        assert [len(r["query"].split()) for r in reqs] == [1 + i % 3, 1 + (i + 1) % 3]


def test_catalog_tables_keep_the_catalog_schema():
    tables = gen.catalog_tables(1)
    assert set(tables) == set(gen.TABLES)
    assert tables["lineitem"].num_rows == gen.SF_ROWS["lineitem"]
    assert str(tables["events"].schema.field("ts").type) == "timestamp[us]"
    assert tables["embeddings"].column("embedding").type.value_type.bit_width == 32


# -- the percentile rule ------------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100


@pytest.mark.parametrize("n, want", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                     (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond_it(n, want):
    got = tail_percentile([float(i) for i in range(n)])
    if want is None:
        assert got is None
    else:
        assert got[0] == want
        assert beyond(n, want) >= 10


# -- self time -----------------------------------------------------------------------


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, 1)


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 2.0, 5.0, 1),
             _span(4, 8.0, 12.0, 1), _span(5, 2.5, 2.75, 3)]
    st = self_times(spans)
    assert math.isclose(st[1], 10.0 - (4.0 + 2.0))  # [1,5] and [8,10]
    assert math.isclose(st[3], 3.0 - 0.25)
    assert math.isclose(st[5], 0.25)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(1, 1.0, 1.5)]) == {1: 0.5}


# -- the A/B decision rule ------------------------------------------------------------

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_parent_iqr():
    change = [x - 1.0 for x in PARENT]
    assert decide(PARENT, change, "lower", 0.1) == "gain"
    one_loss = change[:]
    one_loss[0] = PARENT[0] + 0.5
    assert decide(PARENT, one_loss, "lower", 0.1) == "gain"
    two_losses = one_loss[:]
    two_losses[1] = PARENT[1] + 0.5
    assert decide(PARENT, two_losses, "lower", 0.1) != "gain"


def test_wins_inside_the_parent_iqr_are_not_a_gain():
    q1, _, q3 = statistics.quantiles(PARENT, n=4)
    change = [x - (q3 - q1) / 2 for x in PARENT]
    assert decide(PARENT, change, "lower", 0.1) == "no-regression"


def test_higher_is_better_metrics_flip_the_sign():
    assert decide(PARENT, [x + 1.0 for x in PARENT], "higher", 0.1) == "gain"
    assert decide(PARENT, [x - 2.0 for x in PARENT], "higher", 0.1) == "regressed"


def test_regression_is_judged_against_the_bound():
    assert decide(PARENT, [x * 1.05 for x in PARENT], "lower", 0.1) == "no-regression"
    assert decide(PARENT, [x * 1.2 for x in PARENT], "lower", 0.1) == "regressed"


def test_a_spread_wider_than_the_bound_is_unresolved():
    noisy = [10.0, 14.0, 7.0, 12.0, 9.0, 15.0, 6.0, 11.0, 13.0, 8.0]
    assert spread(noisy) > 0.1
    assert decide(noisy, [x * 1.01 for x in noisy], "lower", 0.1) == "unresolved"
    # unless every change run beats every parent run; a gain still needs
    # the medians to differ by more than the parent's IQR (5.5 here)
    assert decide(noisy, [5.0] * 10, "lower", 0.1) == "no-regression"
    assert decide(noisy, [4.0] * 10, "lower", 0.1) == "gain"


def test_more_failed_operations_void_a_gain():
    change = [x - 1.0 for x in PARENT]
    assert decide(PARENT, change, "lower", 0.1, parent_failed=0, change_failed=3) != "gain"


def test_fewer_than_ten_pairs_never_claim_a_gain():
    assert decide(PARENT[:9], [x - 1.0 for x in PARENT[:9]], "lower", 0.1) == "no-regression"


def test_decide_rejects_bad_input():
    with pytest.raises(ValueError):
        decide([1.0, 2.0], [1.0], "lower", 0.1)
    with pytest.raises(ValueError):
        decide([1.0, 2.0], [1.0, 2.0], "faster", 0.1)


# -- the oracle comparison ---------------------------------------------------------


@pytest.mark.parametrize("got, want, places, same", [
    (275912360.98, 275912360.97, 2, True),  # a cent flipped by summation order
    (0.050487, 0.050486, 6, True),
    (25.5001, 25.5, 4, True),
    (275912360.99, 275912360.97, 2, False),
    (140809.0, 140808.0, 1, False),
    (1.2, 1.0, 1, False),
    (25.6, 25.5, 4, False),  # the oracle's 25.5 is round(x, 4) with trailing zeros
    (0.0026, 0.0025, 6, False),
    (math.inf, math.inf, 9, True),
    (math.inf, 5.0, 9, False),
    (5, 5, 0, True),
    (5, 6, 0, False),
    ("A", "A", 0, True),
    (None, None, 0, True),
])
def test_cells_match_allows_one_unit_in_the_column_place(got, want, places, same):
    assert cells_match(got, want, places) is same


def test_column_places_take_the_most_places_any_row_shows():
    rows = [(25.5, 7, "a", 0.0025), (25.1234, 8, None, 1e-06), (26.0, 9, "b", None)]
    assert column_places(rows) == [4, 0, 0, 6]
    assert column_places([(1.23456789012,)]) == [9]
    assert column_places([]) == []
