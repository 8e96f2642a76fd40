#!/usr/bin/env python
"""Determinism-doctrine lint: flag cross-engine double-fold constructs.

The r6-r8 driver history showed ordered IEEE-double folds + round() can
hash-mismatch across engine builds even when bit-exact locally
(stats_kaplan_meier, red twice). SCALE.md round-8 codifies the integer
contract; this audit keeps the registry honest:

- FLAG: a DuckDB oracle using list_reduce whose lambda adds/multiplies
  non-integer state (no HUGEINT widening anywhere in the oracle).
- FLAG: Spark source using F.aggregate with a float init (F.lit(0.0) /
  F.lit(1.0)) inside a registered key's function.
- FLAG: numpy exp/log (np.exp, np.log, np.log1p, np.expm1) in an oracled
  key's function or in a same-module helper it calls: the oracles'
  exp/ln are glibc's, which numpy's own kernels do not reproduce bit for
  bit (they differ on about a fifth of inputs). Use math.* per element.
- WHITELIST: keys with a driver-green history or rows-only status may
  keep same-ordered folds (documented watchlist in HANDOFF.md).

Run: python tools/fold_audit.py   (exit 1 if a NON-whitelisted oracled
key gains a double fold — wire into the suite as a regression gate).
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded

# Same-ordered short folds of bit-identical elements with driver-green or
# rows-only precedent (HANDOFF round-8 watchlist). Additions require the
# justification to be written there.
WHITELIST = {
    "stats_welch_anova",          # 3-element grp-ordered fold; r09 watch
    "timeseries_ses_grid_search", # scalar-fold contract probed vs DuckDB
    # r11: driver-side Python fold in t order mirrored by the oracle's
    # list_reduce(list(ORDER BY t)) — per-term trig is glibc-bit-equal
    # (Python math.* == DuckDB, verified 30k probes) and the fold order
    # is pinned on BOTH sides, so this is the KM ordered-fold construct,
    # not the exp(sum(ln)) class the lint exists for. Residual risk is a
    # DuckDB/libm build change on the driver host — shared with every
    # r11 libm-based oracle (platt/cox/logreg) and watched via the
    # driver gate; justification recorded in HANDOFF round-11.
    "timeseries_periodogram",
    # r11: the prefix-sum folds accumulate INTEGER-VALUED doubles
    # (daily cents), exact below 2^53 and order-pinned on both sides
    # (driver loop == list_reduce(ORDER BY d)); the DP itself compares
    # bit-identical costs, pinned by the multi-segment synthetic parity
    # test in tests/test_round11_property.py. Past 2^53 daily cents the
    # widening would go through HUGEINT prefix lists — documented, not
    # reachable at any fixture scale.
    "timeseries_changepoint_pelt",
    # r12: the BPE splice list_reduce folds STRINGS (the greedy
    # pair-merge over symbol arrays) — there is no numeric state in the
    # lambda at all, so the double-fold class this lint exists for
    # cannot occur; every numeric quantity in the oracle is a BIGINT
    # pair count. Justification: SCALE.md round-12 BPE section;
    # termination parity pinned in tests/test_round12_property.py.
    "text_bpe_train_merges",
}


NUMPY_TRANSCENDENTAL = re.compile(r"\bnp\.(exp|log|log1p|expm1)\(")


def _source_with_helpers(fn) -> str:
    """Source of the key behind the registry wrapper ``fn`` (its closure's
    ``fn``) and of every function of the key's module it calls,
    transitively (names in nested code objects included)."""
    fn = inspect.getclosurevars(fn).nonlocals.get("fn", fn)
    mod = inspect.getmodule(fn)
    seen, todo, out = set(), [fn], []
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        try:
            out.append(inspect.getsource(f))
        except (OSError, TypeError):
            continue
        codes = [f.__code__]
        while codes:
            code = codes.pop()
            codes.extend(c for c in code.co_consts if inspect.iscode(c))
            for name in code.co_names:
                g = getattr(mod, name, None)
                if inspect.isfunction(g) and g.__module__ == mod.__name__:
                    todo.append(g)
    return "\n".join(out)


def main() -> int:
    _ensure_loaded()
    bad = []
    for key, spec in sorted(REGISTRY.items()):
        if key in WHITELIST:
            continue
        o = spec.oracle or ""
        if "list_reduce" in o and "HUGEINT" not in o:
            bad.append((key, "oracle list_reduce without HUGEINT widening"))
            continue
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            continue
        if spec.oracle and "F.aggregate(" in src and (
            "F.lit(0.0)" in src or "F.lit(1.0)" in src
        ):
            bad.append((key, "Spark F.aggregate with float init (oracled)"))
            continue
        if spec.oracle:
            m = NUMPY_TRANSCENDENTAL.search(_source_with_helpers(spec.fn))
            if m:
                bad.append((key, f"{m.group(0)[:-1]} in an oracled key (not glibc)"))
    for key, why in bad:
        print(f"FLAG {key}: {why}")
    print(f"audited {len(REGISTRY)} keys, {len(bad)} flags")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
