#!/usr/bin/env bash
# Launch any repo script via spark-submit --py-files (the north-rule launch
# path: the package ships as a zip exactly as it would to a real cluster).
#   scripts/submit.sh [script.py] [args...]
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SCRIPT="${1:-$ROOT/bench.py}"
shift || true
TMP="$(mktemp -d)"
trap 'rm -rf "$TMP"' EXIT
ZIP="$TMP/pprl_pkg.zip"
(cd "$ROOT" && zip -qr "$ZIP" scalable_blocking_for_privacy_preserving_record_linkage_spark __spark_entry__.py)
# no --master: the app passes its own to session.get_spark (core count from
# SPARK_GRAFT_CPUS / --cpus); builder config wins over submit defaults
exec spark-submit \
  --driver-memory "${SPARK_GRAFT_DRIVER_MEM:-8g}" \
  --py-files "$ZIP" \
  "$SCRIPT" "$@"
