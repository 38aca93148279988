"""Check named queries against their DuckDB oracles with the driver
simulation's comparison (tests.conftest.compare_with_oracle: column
names, row count, order-insensitive normalized values).

    python tools/one_query.py <name> [<name> ...]

Queries load from __spark_entry__.py by file path, as the driver does.
Tables come from tests.conftest.SF_DIR_ORACLE ($SPARK_GRAFT_ORACLE_SF_DIR,
default sf0.01). Exits 1 if any named query fails.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from economic_data_project_spark.session import get_spark  # noqa: E402
from tests.conftest import (  # noqa: E402
    SF_DIR_ORACLE,
    compare_with_oracle,
    duckdb_connect,
)


def main(names: list[str]) -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries, oracles = mod.queries(), mod.oracle_sql()

    spark = get_spark(app_name="one-query")
    con = duckdb_connect(SF_DIR_ORACLE)
    failed = 0
    for name in names:
        try:
            if name in oracles:
                ok, msg = compare_with_oracle(
                    spark, queries[name], oracles[name], SF_DIR_ORACLE,
                    con=con,
                )
                tag = "MATCH" if ok else "FAIL"
            else:
                n = queries[name](spark, SF_DIR_ORACLE).count()
                ok, msg, tag = True, f"rows-only ({n} rows)", "ROWS"
        except Exception as e:  # noqa: BLE001
            ok, msg, tag = False, f"EXC {type(e).__name__}: {e}", "FAIL"
        failed += not ok
        print(f"{tag:5} {name}: {msg}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
