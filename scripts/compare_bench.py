#!/usr/bin/env python
"""Mechanical round-over-round bench comparison (r13, VERDICT r12 ask
#2's reporting half; r15 extensions per VERDICT r14 asks #2/#3/#5):
given two bench records, print the common-set totals raw AND
calibration-normalized, the per-query ratio band, and the movers that
exceed their own recorded spread — the drift-vs-signal call that
previously took a hand A/B.

r15 normalization (VERDICT r14 ask #2): when BOTH records carry
``host_factor_shuffle`` and per-row ``stats[..]["class"]`` tags, each
row is normalized by the factor matching its stage class — the
integer-codegen yardstick demonstrably under-reads shuffle-stage
contention (the r14 driver record ran ~15% hot per-query at
host_factor 0.993), so shuffle-class rows divide by the shuffle
factor and only scan/codegen-bound rows divide by the codegen
factor. Records predating the field fall back to the single factor
for every row.

r15 probe gating (VERDICT r14 ask #3): the named unstable iterative
rows (fixed-round LPA and the convergence-probed variants whose
in-suite medians are host samples, not code signal — 4.21/2.85/5.09/
17.9 s across four same-code r14 records) are EXCLUDED from the
movers list and reported separately. Compare them with fresh-process
subset runs instead, one process per row:
``SPARK_GRAFT_ONLY=<row> python bench.py`` at each commit.

Timers: records whose rows carry ``build_sec`` time every row from
the builder call to the sink; older records timed most rows
write-only. When exactly one of the two records carries it, a
one-line caveat says the two use different timers.

r15 cold movers (VERDICT r14 ask #5): ``cold_sec`` is the one-sample
cold-construction number the warm medians exclude; round-over-round
cold deltas on checkpoint-heavy rows are the early warning for
checkpoint/lineage regressions warm medians hide. Because it is a
single first-run sample, the gate is deliberately loose:
tolerance = 1 + max(spread_old, spread_new, 0.5).

Usage:
  python scripts/compare_bench.py OLD.json NEW.json [--hf-old X]

Records written before r13 carry no host_factor; supply one with
--hf-old (e.g. 1.33 for the r12 record, per SCALING.md's hand A/B) or
the old side is reported raw-only.
"""

from __future__ import annotations

import json
import statistics
import sys

#: Rows gated outside the suite (VERDICT r14 ask #3). Their in-suite
#: medians carry multi-record spread_notes on unchanged code; the
#: mover call for them is made on fresh-process subset runs.
PROBE_GATED = frozenset({
    "graph_label_propagation",
    "pagerank_converged",
    "graph_cc_converged",
})


def _load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d:
        raise SystemExit(f"{path}: not a bench record (no 'queries')")
    return d


def _row_factor(rec: dict, name: str, hf: float | None) -> float | None:
    """Factor for this row: class-matched when the record carries the
    shuffle factor + class tags, else the single codegen factor."""
    hfs = rec.get("host_factor_shuffle")
    cls = rec.get("stats", {}).get(name, {}).get("class")
    if hfs and cls == "shuffle":
        return hfs
    return hf


def main() -> None:
    argv = sys.argv[1:]
    hf_old = None
    args: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--hf-old":
            hf_old = float(argv[i + 1])
            i += 2
        else:
            args.append(argv[i])
            i += 1
    if len(args) != 2:
        raise SystemExit(__doc__)
    old, new = _load(args[0]), _load(args[1])
    hand_supplied = hf_old is not None and "host_factor" not in old
    hf_old = hf_old if hf_old is not None else old.get("host_factor")
    hf_new = new.get("host_factor")
    if hand_supplied:
        print(
            "CAVEAT: --hf-old is a hand-measured drift constant, NOT a "
            "calibration-row reading — it was measured against a "
            "different session's baseline, so the normalized line below "
            "is an approximation. Trust the raw line + ratio band for "
            "pre-r13 records; normalized comparisons are exact only "
            "between two records that both carry host_factor."
        )

    timed = [
        any("build_sec" in v for v in rec.get("stats", {}).values())
        for rec in (old, new)
    ]
    if timed[0] != timed[1]:
        print(
            "CAVEAT: the records use different timers — only the "
            f"{'old' if timed[0] else 'new'} one times every row from "
            "builder call to sink (build_sec); the other timed most "
            "rows write-only."
        )

    qo, qn = old["queries"], new["queries"]
    common = sorted(set(qo) & set(qn))
    if not common:
        raise SystemExit("no common queries")
    to, tn = sum(qo[n] for n in common), sum(qn[n] for n in common)
    print(f"common set: {len(common)} queries")
    print(f"raw: {to:.1f} s -> {tn:.1f} s ({tn / to - 1:+.1%})")
    dual = bool(
        old.get("host_factor_shuffle") and new.get("host_factor_shuffle")
    )
    if hf_old and hf_new:
        if dual:
            no = sum(qo[n] / _row_factor(old, n, hf_old) for n in common)
            nn = sum(qn[n] / _row_factor(new, n, hf_new) for n in common)
            print(
                "normalized (class-matched: codegen "
                f"{hf_old:.3g}/{hf_new:.3g}, shuffle "
                f"{old['host_factor_shuffle']:.3g}/"
                f"{new['host_factor_shuffle']:.3g}): "
                f"{no:.1f} s -> {nn:.1f} s ({nn / no - 1:+.1%})"
            )
        else:
            no, nn = to / hf_old, tn / hf_new
            print(
                f"normalized (old/{hf_old:.3g}, new/{hf_new:.3g}): "
                f"{no:.1f} s -> {nn:.1f} s ({nn / no - 1:+.1%})"
            )
            if old.get("host_factor_shuffle") or new.get(
                "host_factor_shuffle"
            ):
                print(
                    "  (single-factor fallback: only one record carries "
                    "host_factor_shuffle)"
                )
    else:
        print("normalized: n/a (missing host_factor; pass --hf-old)")

    ratios = sorted(
        (qn[n] / qo[n], n) for n in common if qo[n] > 0.3
    )
    rs = [r for r, _ in ratios]
    print(
        f"ratio band (rows > 0.3 s): median {statistics.median(rs):.3f}, "
        f"p10 {rs[len(rs) // 10]:.2f}, p90 {rs[9 * len(rs) // 10]:.2f}"
    )

    # Signal rule (bench.py header): a mover is signal only if its
    # delta exceeds BOTH sides' recorded spread.
    so = old.get("spread", {})
    sn = new.get("spread", {})
    movers = []
    probe_gated_movers = []
    for r, n in ratios:
        tol = 1 + max(so.get(n, 0.2), sn.get(n, 0.2))
        if r > tol or 1 / r > tol:
            if n in PROBE_GATED:
                probe_gated_movers.append((r, n))
            else:
                movers.append((r, n))
    # r14: rows the bench itself marked unstable (spread_note = both
    # re-measure batches exceeded 0.4 — host-level variance) are
    # labeled so a reader doesn't chase them as code regressions.
    def _noted(rec: dict, n: str) -> bool:
        return "spread_note" in rec.get("stats", {}).get(n, {})

    if movers:
        print("movers beyond their own spread:")
        for r, n in sorted(movers):
            flag = (
                " [noted unstable]"
                if _noted(old, n) or _noted(new, n)
                else ""
            )
            print(
                f"  {n}: {qo[n]:.2f} -> {qn[n]:.2f} s (x{r:.2f}; "
                f"spreads {so.get(n)}/{sn.get(n)}){flag}"
            )
    else:
        print("movers beyond their own spread: none")
    if probe_gated_movers:
        print(
            "probe-gated rows moved in-suite (NOT signal — compare "
            "these with fresh-process SPARK_GRAFT_ONLY=<row> runs):"
        )
        for r, n in sorted(probe_gated_movers):
            print(f"  {n}: {qo[n]:.2f} -> {qn[n]:.2f} s (x{r:.2f})")

    # Cold movers (r15, VERDICT r14 ask #5): one-sample numbers, so
    # gate loosely and label as early-warning, not verdict.
    sto, stn = old.get("stats", {}), new.get("stats", {})
    cold_movers = []
    for n in common:
        co = sto.get(n, {}).get("cold_sec")
        cn = stn.get(n, {}).get("cold_sec")
        if not co or not cn or co < 0.3:
            continue
        r = cn / co
        tol = 1 + max(so.get(n, 0.2), sn.get(n, 0.2), 0.5)
        if r > tol or 1 / r > tol:
            cold_movers.append((r, n, co, cn))
    if cold_movers:
        print(
            "cold-construction movers (one-sample first-run numbers — "
            "an early warning for checkpoint/lineage regressions that "
            "warm medians hide, not a verdict):"
        )
        for r, n, co, cn in sorted(cold_movers):
            print(f"  {n}: cold {co:.2f} -> {cn:.2f} s (x{r:.2f})")
    elif sto and stn and any("cold_sec" in v for v in stn.values()):
        print("cold-construction movers: none")

    new_rows = sorted(set(qn) - set(qo))
    if new_rows:
        print("new rows:", {n: qn[n] for n in new_rows})


if __name__ == "__main__":
    main()
