#!/usr/bin/env bash
# Package the engine and run the crawl via spark-submit --py-files —
# the same ship shape a real cluster uses (swap --master for YARN/K8s).
#
#   scripts/submit.sh [--master local[N]] -- --workdir /tmp/crawl --n-urls 5000
#
# --master defaults to local[<nproc>]: one task slot per host CPU.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="local[$(nproc)]"
if [[ "${1:-}" == "--master" ]]; then
  MASTER="$2"; shift 2
fi
[[ "${1:-}" == "--" ]] && shift

ZIP="$(mktemp -d)/ycrawl_spark.zip"
(cd "$REPO" && python - "$ZIP" <<'EOF'
import sys, zipfile, pathlib
zf = zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED)
for p in pathlib.Path("ycrawl_spark").rglob("*.py"):
    zf.write(p, p.as_posix())
zf.close()
EOF
)

SPARK_SUBMIT="$(python -c 'import pyspark, os; print(os.path.join(pyspark.__path__[0], "bin", "spark-submit"))')"
exec "$SPARK_SUBMIT" \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions=32 \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.ui.enabled=false \
  --py-files "$ZIP" \
  "$REPO/scripts/submit_crawl.py" "$@"
