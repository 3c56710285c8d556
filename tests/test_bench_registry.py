"""bench.py's contract, checked without running the suite: every
HEADLINE and scale entry resolves to a callable (retiring a graded
query without updating the bench series once broke `python bench.py`
at run time), the committed scale record meets its gates, the one
JSON line fits its budget, and the command line rejects bad flags."""

from __future__ import annotations

import pytest


def test_headline_names_all_resolve():
    import bench
    from trial_data_ingestion_spark.plans import QUERIES

    available = {**QUERIES, **bench._bench_extra()}
    missing = [n for n in bench.HEADLINE if n not in available]
    assert not missing, (
        f"bench HEADLINE entries with no callable: {missing} — "
        "retired queries must be re-exposed via _bench_extra")
    for name in bench.HEADLINE:
        assert callable(available[name]), name


def test_headline_has_no_duplicates():
    import bench
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_scale_entries_resolve():
    """Every SCALE_ENTRIES name must be runnable (graded or bench
    extra) — the scale tier reuses the same callables."""
    import bench
    from trial_data_ingestion_spark.plans import QUERIES

    available = {**QUERIES, **bench._bench_extra()}
    missing = [n for n in bench.SCALE_ENTRIES if n not in available]
    assert not missing


def test_scale_record_gates():
    """The committed BENCH_SCALE.json (produced by `bench.py --scale`
    per tier) must cover every configured tier's entry list and show
    near-linear scaling: wall(Fx) <= gate x wall(1x) per entry, with
    gate = 1.2x linear.  A quadratic or skew cliff reads as ~F^2
    here — this is the measured backing for the README's 100 TB
    design-review claims.  Entries carrying a ``gate_ratio_override``
    (b28: LSH n^(1+rho), gate derived from the recorded (p, L) plan —
    1.2 * factor * (L*p)_scaled/(L*p)_base, per-row work being L
    tables x p sign-dots each) are judged against their own law, not
    the linear tier gate."""
    import json
    import os

    import bench
    path = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                        "BENCH_SCALE.json")
    assert os.path.exists(path), (
        "BENCH_SCALE.json missing — run `python bench.py --scale` "
        "and commit the record")
    with open(path) as f:
        rec = json.load(f)
    for factor, (names, gate) in bench.SCALE_TIERS.items():
        tier = rec["tiers"].get(str(factor))
        assert tier, (f"tier {factor}x missing — run "
                      f"SPARK_GRAFT_SCALE_FACTOR={factor} "
                      "python bench.py --scale")
        assert tier["factor"] == factor
        assert tier["gate_ratio"] == gate
        assert set(names) <= set(tier["entries"]), (
            f"tier {factor}x record is missing entries — regenerate")
        over = {n: e["ratio"] for n, e in tier["entries"].items()
                if e["ratio"] > e.get("gate_ratio_override", gate)}
        assert not over, f"tier {factor}x over the scale gate: {over}"
        # an override must be auditable in the record — either the
        # recorded (p, L) plan it derives from (b28) or a stated
        # structural law pointing at scale_knobs (b13's n^1.5) — and
        # must stay below quadratic, the blowup the tiers exist to
        # catch
        for n, e in tier["entries"].items():
            if "gate_ratio_override" in e:
                if "plan_base" in e:
                    assert e["plan_base"]["num_tables"] >= 1
                    assert e["plan_scaled"]["num_tables"] >= 1
                else:
                    assert "law" in e and "scale_knobs" in e["law"], (
                        f"{n}: override without plan fields needs a "
                        f"'law' pointing at a scale_knobs note")
                assert e["gate_ratio_override"] < 1.2 * factor ** 2
    assert rec["pass"] is True


def test_scale_marginal_decade_gate():
    """The cumulative gate (wall(100x) <= 120 x wall(1x)) can hide a
    superlinear SECOND decade behind a fixed-cost-dominated first one:
    a 1.4x first decade plus a 12x second still reads 17x cumulative,
    comfortably under 120, while the marginal trend is quadratic-bound
    (r8 verdict, q19).  Gate every ADJACENT tier pair (10->100,
    100->300): for every entry in both tiers,
    wall(f2) <= 1.2 x (f2/f1) x wall(f1) — b28's bound is additionally
    scaled by its recorded table-count ratio (its law is n * L(n))."""
    import json
    import os

    import bench
    path = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                        "BENCH_SCALE.json")
    with open(path) as f:
        rec = json.load(f)
    factors = sorted(int(k) for k in rec["tiers"])
    assert factors[:1] == [10] and len(factors) >= 2
    # every configured tier list must appear in the record with its
    # smaller-tier counterpart so the marginal trend is computable
    t10 = rec["tiers"]["10"]["entries"]
    assert set(bench.SCALE_ENTRIES_X100) <= set(t10)
    # b13 is ROOT-CAUSED superlinear, not exempt-by-convenience: with
    # cells ~ n (required to bound the per-cell exact-pair term
    # n^2/cells) the broadcast-argmin ASSIGNMENT is n * cells = n^2,
    # and ANY exact assignment with balanced cells is >= n^1.5
    # (n*k + n^2/k minimized at k ~ sqrt(n)) — SemDeDup's shape is
    # inherently superlinear without approximate assignment (the
    # paper runs it on GPUs).  The record's scale_knobs entry names
    # the alternatives for the same semantics: single-table SRP with
    # the recall trade (q48, measured linear here) and recall-held
    # multi-table SRP (semantic_dedup_blocked = b28, the classic LSH
    # n^(1+rho) — sub-quadratic, not linear, gated against its own
    # recorded plan below).  b13 stays under the CUMULATIVE 120x
    # gate, asserted in test_scale_record_gates.
    exempt = {"b13_semantic_dedup"}
    over = {}
    for f1, f2 in zip(factors, factors[1:]):
        e1 = rec["tiers"][str(f1)]["entries"]
        e2 = rec["tiers"][str(f2)]["entries"]
        for name in sorted(set(e1) & set(e2)):
            if name in exempt:
                continue
            bound = 1.2 * (f2 / f1)
            if "gate_ratio_override" in e2[name]:
                # planned per-row work is L tables x p sign-dots each
                # (occupancy-pinned candidates scale with L too), so
                # the marginal bound scales by the recorded plan's
                # L*p ratio — same model as the cumulative override
                assert "plan_scaled" in e1[name], (
                    f"tier {f1}x record for {name} predates its plan "
                    f"fields — regenerate with "
                    f"SPARK_GRAFT_SCALE_FACTOR={f1} python bench.py "
                    f"--scale")
                p1_ = e1[name]["plan_scaled"]
                p2_ = e2[name]["plan_scaled"]
                bound *= ((p2_["num_tables"] * p2_["num_planes"])
                          / (p1_["num_tables"] * p1_["num_planes"]))
            marginal = e2[name]["scaled_sec"] / e1[name]["scaled_sec"]
            if marginal > bound:
                over[f"{name}@{f1}->{f2}"] = round(marginal, 2)
    assert not over, (
        f"superlinear marginal tier (wall grows past 1.2x the factor "
        f"between adjacent tiers): {over}")
    # the exemption must stay documented in the committed record
    assert "assignment" in rec["scale_knobs"]["b13_semantic_dedup"].lower()


def test_compact_line_fits_driver_tail_and_parses():
    """A caller that keeps only a 2000-char stdout tail must get the
    one JSON line bench prints whole — with the CURRENT suite size
    and realistic key lengths — carrying exactly the total, the
    steady per-entry medians and both calibration probes with their
    versions.  A pathologically grown suite degrades to a parseable
    no-queries line instead of overflowing."""
    import json

    import bench
    out = {
        "metric": "headline-query steady-state wall time "
                  "(median of 3), local[32]",
        "value": 85.0, "unit": "sec", "sf": 0.1,
        "queries": {n: 1.234 for n in bench.HEADLINE},
        "calibration_sec": 0.686,
        "calibration_start_sec": 0.686,
        "calibration_end_sec": 0.7,
        "calibration_version": bench.CALIBRATION_VERSION,
        "calibration_mem_sec": 1.078,
        "calibration_mem_start_sec": 1.1,
        "calibration_mem_end_sec": 1.078,
        "calibration_mem_version": bench.CALIBRATION_MEM_VERSION,
        "steady_passes": bench.STEADY_PASSES,
        "cold_total_sec": 130.0,
        "queries_cold": {n: 2.5 for n in bench.HEADLINE},
    }
    line = bench._compact_line(out)
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    # early warning: per-query detail must survive at least ~6 more
    # entries of typical key length (~30-char names serialize to ~38
    # chars each) BEFORE the overflow path silently drops it — when
    # this fires, shorten bench keys, don't wait for a tail capture
    # to lose its query detail
    assert len(line) <= bench.COMPACT_LINE_BUDGET - 6 * 38, (
        f"compact line at {len(line)} chars is within 6 entries of "
        f"the {bench.COMPACT_LINE_BUDGET} budget")
    rec = json.loads(line)
    assert set(rec) == {
        "metric", "value", "unit", "sf", "calibration_sec",
        "calibration_version", "calibration_mem_sec",
        "calibration_mem_version", "queries", "steady_passes",
        "cold_total_sec"}
    assert rec["queries"] == out["queries"]
    assert rec["calibration_sec"] == 0.686
    assert rec["calibration_version"] == bench.CALIBRATION_VERSION
    assert rec["calibration_mem_sec"] == 1.078
    assert rec["calibration_mem_version"] == bench.CALIBRATION_MEM_VERSION
    # overflow: 500 long-named entries cannot fit -> queries dropped,
    # line still parseable and under budget
    big = dict(out, queries={f"q{i:03d}_very_long_entry_name_padding":
                             1.234 for i in range(500)})
    line2 = bench._compact_line(big)
    assert len(line2) <= bench.COMPACT_LINE_BUDGET
    rec2 = json.loads(line2)
    assert "queries" not in rec2 and "queries_in" in rec2


@pytest.mark.parametrize("argv", [["--rebaseline"], ["--only"]])
def test_cli_rejects_bad_flags_without_writing(argv):
    """A removed flag and a bare trailing ``--only`` are usage errors
    (exit 2, argparse usage on stderr) raised before any Spark
    session starts, and leave no bench record behind."""
    import glob
    import os
    import subprocess
    import sys

    import bench
    here = os.path.dirname(os.path.abspath(bench.__file__))

    def records():
        return set(glob.glob(os.path.join(here, "BENCH_LOCAL_*"))
                   + glob.glob(os.path.join(here, "BENCH_BASELINE.json")))

    before = records()
    res = subprocess.run([sys.executable, os.path.join(here, "bench.py"),
                          *argv], capture_output=True, text=True,
                         timeout=60)
    assert res.returncode == 2, res
    assert "usage:" in res.stderr
    assert records() == before
