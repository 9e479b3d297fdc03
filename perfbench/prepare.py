"""Make one run's inputs and oracle results (run in a child process, so
neither the generator nor DuckDB counts in the driver's memory or time).

    python3 perfbench/prepare.py <repo root> <work dir> <workload> <seed> <out.pickle>
"""

from __future__ import annotations

import os
import pickle
import shutil
import sys


def prepare(work: str, wl, seed: int) -> dict:
    """Inputs (and for ``mart_refresh`` the stream files) of workload
    ``wl`` under ``work``, plus its oracle results."""
    from perfbench import inputs, oracle
    from perfbench.workloads import REWRITE_TABLES, STREAM_FILES

    import __spark_entry__

    base = os.path.join(work, "inputs", f"seed{seed}")
    plan = {"seed": seed}
    if wl.kind == "marts":
        # the mart pass rewrites a table: start every run from a fresh,
        # seed-determined copy
        d = os.path.join(base, f"marts-sf{wl.sf}")
        shutil.rmtree(d, ignore_errors=True)
        plan["sf_dir"] = inputs.ensure_tables(d, wl.sf, seed)
        plan["stream_dir"] = os.path.join(base, f"marts-sf{wl.sf}-events")
        shutil.rmtree(plan["stream_dir"], ignore_errors=True)
        inputs.split_events(plan["sf_dir"], plan["stream_dir"], seed, STREAM_FILES)
        plan["rewrite_table"] = REWRITE_TABLES[seed % len(REWRITE_TABLES)]
        plan["rewrite_variants"] = inputs.table_variants(
            plan["sf_dir"], plan["rewrite_table"], os.path.join(base, f"marts-sf{wl.sf}-rewrites"),
            seed)
    else:
        plan["sf_dir"] = inputs.ensure_tables(os.path.join(base, f"sf{wl.sf}"), wl.sf, seed)
    sqls = __spark_entry__.oracle_sql()
    plan["oracles"] = oracle.oracle_results(plan["sf_dir"], {q: sqls[q] for q in wl.queries})
    return plan


if __name__ == "__main__":
    root, work, workload, seed, out = sys.argv[1:6]
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    plan = prepare(work, WORKLOADS[workload], int(seed))
    with open(out, "wb") as fh:
        pickle.dump(plan, fh)
