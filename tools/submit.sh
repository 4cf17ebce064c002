#!/usr/bin/env bash
# spark-submit packaging — the north rule's `spark-submit --py-files` path.
# Zips the library, submits the import job. On a real cluster, swap --master.
#
#   tools/submit.sh [out_dir] [extra import_job args...]
#
# Defaults follow the host, as session.get_spark does: local[N] over the
# CPUs this process may run on, and a driver heap of a quarter of RAM.
# SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override them.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
RAM_KB="$(awk '/^MemTotal:/ {print $2}' /proc/meminfo)"
DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-$(( RAM_KB / 4 / 1048576 > 1 ? RAM_KB / 4 / 1048576 : 1 ))g}"
# first arg is the output dir ONLY if it is not a flag — so
# `tools/submit.sh --skip-nested` passes the flag through instead of
# writing a bundle to a directory literally named './--skip-nested'
OUT="/tmp/pgosm_flex_spark_out"
if [[ $# -gt 0 && "${1:0:1}" != "-" ]]; then
  OUT="$1"
  shift
fi

ZIP=$(mktemp -d)/pgosm_flex_spark.zip
(cd "$REPO" && zip -qr "$ZIP" pgosm_flex_spark)

spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "$DRIVER_MEM" \
  --py-files "$ZIP" \
  "$REPO/jobs/import_job.py" --out "$OUT" --cpus "$CPUS" "$@"
