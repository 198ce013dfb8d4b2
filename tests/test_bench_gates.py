"""bench.build_artifact: the gate fields every bench artifact carries
(bench.py's own run and the merge tools' artifacts), pinned over synthetic
timings and synthetic reference bests at sf 0.1, 1 and 10."""

import pytest

import bench

REFS_SF01 = {"lin": 1.0, "quad": 1.0, "fast": 0.1}
REFS_SF1 = {"lin": 2.0, "quad": 2.0}
EXCLUDED = {"gone": "exact pair join"}


@pytest.fixture(autouse=True)
def synthetic_rules(monkeypatch):
    monkeypatch.setattr(bench, "HEAVY_CEILINGS_SF01", {"heavy": 1.5})
    monkeypatch.setattr(bench, "SF01_REF_BESTS", REFS_SF01)
    monkeypatch.setattr(bench, "SF1_REF_BESTS", REFS_SF1)
    monkeypatch.setattr(bench, "QUADRATIC_CONTRACT", {"quad"})
    monkeypatch.setattr(bench, "SF10_EXCLUDED", EXCLUDED)


def gates(artifact):
    keys = (
        "heavy_ceiling_breaches", "sf1_factor_breaches", "sf1_ratchet_ungated",
        "sf10_factor_breaches", "sf10_ratchet_ungated", "sf10_excluded",
    )
    return {k: artifact[k] for k in keys}


def test_sf01_heavy_ceilings_and_totals():
    timings = {
        "lin": 1.0, "minhash_near_dups": 2.0,
        "minhash_near_dups_xxh64_pairs": 0.5,
    }
    heavy = {"heavy": 1.6, "quad": 99.0}
    art = bench.build_artifact("0.1", timings, heavy)
    assert list(art) == [
        "metric", "value", "unit", "frozen18_subtotal_sec", "queries",
        "heavy_total_sec", "heavy_queries", "heavy_ceiling_breaches",
        "sf1_factor_breaches", "sf1_ratchet_ungated", "sf10_factor_breaches",
        "sf10_ratchet_ungated", "sf10_excluded", "sf",
    ]
    assert (art["value"], art["frozen18_subtotal_sec"]) == (3.5, 1.0)
    assert art["heavy_total_sec"] == 100.6
    assert (art["queries"], art["heavy_queries"], art["sf"]) == (
        timings, heavy, "0.1"
    )
    # only the heavy ceilings gate at sf0.1, and only named queries
    assert gates(art) == {
        "heavy_ceiling_breaches": {"heavy": {"sec": 1.6, "ceiling": 1.5}},
        "sf1_factor_breaches": {},
        "sf1_ratchet_ungated": [],
        "sf10_factor_breaches": {},
        "sf10_ratchet_ungated": [],
        "sf10_excluded": {},
    }


def test_sf1_factor_ratchet_with_the_quadratic_allowance():
    # ceilings: lin 15 x 1.0 + 2 = 17; fast 15 x 0.1 + 2 = 3.5;
    # quad 110 x 1.0 + 2 = 112
    art = bench.build_artifact(
        "1", {"lin": 17.5, "fast": 3.4, "new": 0.1}, {"quad": 112.5}
    )
    assert gates(art) == {
        "heavy_ceiling_breaches": {},
        "sf1_factor_breaches": {
            "lin": {"sec": 17.5, "factor_ceiling": 17.0},
            "quad": {"sec": 112.5, "factor_ceiling": 112.0},
        },
        "sf1_ratchet_ungated": ["new"],
        "sf10_factor_breaches": {},
        "sf10_ratchet_ungated": [],
        "sf10_excluded": {},
    }
    # 50 s would breach a 15x ceiling (17 s) but not quad's 110x one
    art = bench.build_artifact("1", {"lin": 16.0}, {"quad": 50.0})
    assert art["sf1_factor_breaches"] == {}


def test_sf10_factor_ratchet_and_exclusions():
    # ceilings: lin 15 x 2.0 + 3 = 33; quad 110 x 2.0 + 3 = 223
    art = bench.build_artifact(
        "10", {"lin": 34.0, "fast": 1.0}, {"quad": 222.0}
    )
    assert gates(art) == {
        "heavy_ceiling_breaches": {},
        "sf1_factor_breaches": {},
        "sf1_ratchet_ungated": [],
        "sf10_factor_breaches": {"lin": {"sec": 34.0, "factor_ceiling": 33.0}},
        "sf10_ratchet_ungated": ["fast"],
        "sf10_excluded": EXCLUDED,
    }
    art = bench.build_artifact("10", {"lin": 1.0}, {"quad": 223.5})
    assert art["sf10_factor_breaches"] == {
        "quad": {"sec": 223.5, "factor_ceiling": 223.0}
    }


def test_note_is_recorded_only_when_given():
    art = bench.build_artifact("0.1", {"lin": 1.0}, {}, note="merged")
    assert list(art)[-2:] == ["sf", "note"] and art["note"] == "merged"
    assert "note" not in bench.build_artifact("0.1", {"lin": 1.0}, {})
