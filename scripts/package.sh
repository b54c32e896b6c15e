#!/usr/bin/env bash
# Build the --py-files artifact for spark-submit (north_rule shipping
# mode): a zip of the package's modules.
#   bash scripts/package.sh [out.zip]   # default dist/python_crawler_spark.zip
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:-$root/dist/python_crawler_spark.zip}"
mkdir -p "$(dirname "$out")"
rm -f "$out"
ROOT="$root" OUT="$out" python - <<'PY'
import os, pathlib, zipfile
root, out = pathlib.Path(os.environ["ROOT"]), os.environ["OUT"]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted((root / "python_crawler_spark").rglob("*.py")):
        z.write(p, p.relative_to(root).as_posix())
print(f"wrote {out}")
PY
