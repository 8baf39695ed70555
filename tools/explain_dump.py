"""Dump `.explain("formatted")` for named queries into plans/<tag>/.

Usage: python tools/explain_dump.py <out_dir> <suffix> <name> [name ...]
       python tools/explain_dump.py plans/r10 before semantic_dedup cms_token_frequency

Writes <out_dir>/<name>_<suffix>.txt for each query. Plans are BUILT, not
fully executed via the sink — but note that building SOME queries runs
eager driver jobs (multi_ntile / _bucketed_rank collect split points and
bucket counts at build time; kmeans/CC/BPE iterate), so this tool is not
data-movement-free for those. The dumps are the optimization-round
evidence files the judge diffs against claimed plan changes. Production
@variant twins (tools/prod_variants.py) are addressed by their registry
name, with '@' mapped to '_' in the file name.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simtradedata_spark.session import get_spark
from tools.prod_variants import builders, resolve


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], resolve(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain_dump", input_dir=sf_dir)
    for name, build in builders(spark, sf_dir, names).items():
        df = build()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name.replace('@', '_')}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
