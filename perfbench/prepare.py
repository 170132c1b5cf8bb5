"""Build what the output checks compare against, once per checkout.

    python3 perfbench/prepare.py

The first ``run.py`` in a checkout runs this in a child process before
it measures anything, so DuckDB and the reference runs never share a
process, or its memory, with what is measured. The result is kept as
``perfbench/.cache/references.json``; delete it after changing the
oracle SQL, the specs or the tables. It holds:

    oracle  per key: the order-insensitive fingerprint of the DuckDB
            oracle's result (``oracle_sql``) over the benchmark's tables,
            for the registry keys and the keys the task checks use
    task    per edited value: the field fingerprints of a cold CLI run
            of the edited ``training_data_pipeline`` spec in a scratch
            tree, which the pickup run's fields must equal (each edit
            must store other fields than every other value, the
            committed one included)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def oracle(sf_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    from helpers import fingerprint
    from tests.oracle_check import duck_connection

    con = duck_connection(sf_dir)
    con.sql("SET enable_progress_bar = false")
    return {key: fingerprint(con.sql(sql).df()) for key, sql in sqls.items()}


def task_references(ctx, values) -> dict[str, dict[str, str]]:
    """One cold CLI run of a scratch tree holding the edited spec once
    per value, and once as committed."""
    from helpers import fingerprint
    from task_workload import EDITED, CliRunner, edit_spec, field_frames, spec_text

    tree = os.path.join(ctx.work_dir, "references")
    specs = {str(v): edit_spec(spec_text(EDITED, ctx.sf_dir), v) for v in values}
    specs["committed"] = spec_text(EDITED, ctx.sf_dir)
    for label, spec in specs.items():
        os.makedirs(os.path.join(tree, label))
        with open(os.path.join(tree, label, "task.yml"), "w") as fh:
            fh.write(spec)
    res = CliRunner(ctx, "reference")(tree)
    if res["exit_code"] != 0:
        with open(res["log"]) as fh:
            raise RuntimeError(f"reference run failed: {fh.read()[-500:]}")
    out = {
        label: {k: fingerprint(v) for k, v in field_frames(os.path.join(tree, label)).items()}
        for label in specs
    }
    if len({json.dumps(v, sort_keys=True) for v in out.values()}) != len(out):
        raise RuntimeError("two edited values store the same fields: the pickup check "
                           "could not tell them apart")
    del out["committed"]
    return out


def references(ctx) -> None:
    """Make the references for ``ctx``'s tables at ``ctx.refs_path``."""
    import __spark_entry__ as entry
    import registry_workload
    import task_workload

    keys = dict.fromkeys(registry_workload.KEYS + task_workload.ORACLE_KEYS)
    sqls = entry.oracle_sql(ctx.sf_dir)
    refs = {
        "oracle": oracle(ctx.sf_dir, {k: sqls[k] for k in keys}),
        "task": task_references(ctx, task_workload.EDIT_VALUES),
    }
    tmp = f"{ctx.refs_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(refs, fh)
    os.replace(tmp, ctx.refs_path)


def main() -> int:
    from helpers import adopt_orphans, wait_children
    from run import Context

    adopt_orphans()
    ctx = Context("prepare", seed=0, trace=0)
    try:
        references(ctx)
    finally:
        wait_children()
        if ctx.owns_work_dir:
            shutil.rmtree(ctx.work_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
