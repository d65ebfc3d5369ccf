#!/usr/bin/env python
"""Round-6 promotion helper: move the proven contract_pending queue into
the live registry's first-50 (driver-recorded) slots once
CORRECTNESS_r05.json has proven the rows currently holding them.

Usage:
    python tools/promote_pending.py CORRECTNESS_r05.json [--apply]

Without --apply it is a pure dry run: it reports (a) whether every
current first-50 registry row is green in the given driver file (the
precondition for rotating them below the cap), (b) which pending rows
would promote, and (c) the COVERAGE.md ledger lines that must be updated
by hand. With --apply it appends an idempotent promotion block to
timeseriestokenizer_spark/contract.py that prepends the pending rows to
QUERIES / ORACLE_SQL (dict-merge ordering puts them first, i.e. inside
the driver cap), then tells you to run:

    python tools/check_ledger.py
    python tools/check_contract.py          # full registry
    python -m pytest tests/test_cache_release.py tests/test_pending_contract.py

The q_ functions and oracle SQL stay defined in contract_pending.py —
"promote verbatim" per that module's docstring; the registry block only
re-exports them, so there is exactly one definition of each row.
"""

from __future__ import annotations

import json
import sys

MARKER = "# ---- round-6 promotion (tools/promote_pending.py) ----"
CONTRACT = "timeseriestokenizer_spark/contract.py"


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--apply"]
    apply = "--apply" in sys.argv[1:]
    if len(args) != 1:
        print(__doc__)
        return 2
    proof_path = args[0]

    sys.path.insert(0, ".")
    from timeseriestokenizer_spark import contract, contract_pending

    proofs = json.load(open(proof_path))
    reg_names = list(contract.QUERIES)
    capped = reg_names[:50]
    not_green = [
        n
        for n in capped
        if not (
            n in proofs
            and proofs[n].get("rows_match")
            and proofs[n].get("schema_match")
            and proofs[n].get("hash_match")
            and not proofs[n].get("err")
        )
    ]
    pending = list(contract_pending.PENDING_QUERIES)
    osql = contract_pending.pending_oracle_sql()
    missing_sql = [n for n in pending if n not in osql]

    print(f"registry: {len(reg_names)} rows; driver cap covers {len(capped)}")
    print(f"driver file: {proof_path} with {len(proofs)} rows recorded")
    if not_green:
        print("NOT GREEN in driver file (cannot rotate below cap yet):")
        for n in not_green:
            detail = proofs.get(n, "ABSENT from driver file")
            print(f"  - {n}: {detail}")
    else:
        print("all capped rows green in the driver file — rotation is safe")
    print(f"pending queue: {len(pending)} rows -> would promote inside the cap")
    if missing_sql:
        print(f"pending rows WITHOUT oracle SQL (would be rows-only): {missing_sql}")
    if len(pending) > 50:
        print(
            f"WARNING: {len(pending)} pending rows exceed the 50-slot cap; "
            f"only the first 50 get driver proofs next round"
        )

    if not apply:
        print("\ndry run only — re-run with --apply to modify contract.py")
        return 1 if not_green else 0
    if not_green:
        print("\nrefusing --apply: capped rows above are not proven")
        return 1

    src = open(CONTRACT).read()
    if MARKER in src:
        print(f"\n{CONTRACT} already contains the promotion block; nothing to do")
        return 0
    names = ",\n    ".join(f'"{n}"' for n in pending)
    block = f'''

{MARKER}
# Generated after {proof_path} proved every prior first-50 row. The dict
# merges put the newly-promoted rows FIRST, i.e. inside the driver's
# 50-row recording cap; the previously-proven rows rotate below it (the
# COVERAGE.md ledger maps each to its proving round file).
from .contract_pending import (  # noqa: E402
    PENDING_QUERIES as _PROMOTED_QUERIES,
    pending_oracle_sql as _promoted_oracle_sql,
)

_PROMOTED = [
    {names},
]
QUERIES = {{**{{k: _PROMOTED_QUERIES[k] for k in _PROMOTED}}, **QUERIES}}
ORACLE_SQL = {{
    **{{k: v for k, v in _promoted_oracle_sql().items() if k in set(_PROMOTED)}},
    **ORACLE_SQL,
}}
'''
    open(CONTRACT, "a").write(block)
    print(f"\nappended promotion block to {CONTRACT}")
    print("NOW: update COVERAGE.md ledger rows, then run")
    print("  python tools/check_ledger.py")
    print("  python tools/check_contract.py")
    print("  python -m pytest tests/ -x -q")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
