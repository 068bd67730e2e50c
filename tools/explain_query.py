"""Pre-flight plan inspection for any registered query.

Usage: python tools/explain_query.py <query_name> [sf_dir] [--full]

Prints the scale-relevant plan facts (shuffles, broadcasts, codegen
spans, read columns, pushed filters) from the
:mod:`mit_map_reduce_spark.plans` probes — the check to run before
pointing a query at a real cluster. ``--full`` additionally dumps the
formatted physical plan.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv[1:]
    if not args:
        import __spark_entry__ as entrymod

        print(__doc__)
        print("registered queries:")
        for name in sorted(entrymod.queries()):
            print(f"  {name}")
        return
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod

    from mit_map_reduce_spark.plans import formatted_plan, plan_report
    from mit_map_reduce_spark.session import get_spark

    qs = entrymod.queries()
    if name not in qs:
        sys.exit(f"unknown query {name!r}; run with no args to list")
    df = qs[name](get_spark("explain_query"), sf_dir)
    print(json.dumps(plan_report(df), indent=2))
    if full:
        print(formatted_plan(df))


if __name__ == "__main__":
    main()
