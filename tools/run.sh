#!/bin/bash
# Fast main-class runner: bypasses sbt startup. Usage: tools/run.sh graft.Verify args...
CLS="$1"; shift
# Dirty-tree stamp for bench artifacts (r19 ADVICE): Bench suffixes its
# git sha with "-dirty" when this is set, so an artifact built from
# uncommitted changes can't stamp a clean-looking commit. Explicit
# SPARK_GRAFT_DIRTY (even empty) wins over the probe.
# Code paths only: an untracked BENCH_*.json from the previous run must
# not dirty-stamp the next artifact — the stamp binds artifact to CODE.
# The probed repo honors SPARK_GRAFT_REPO (the same seam Bench.gitSha
# reads), falling back to this script's own checkout.
repo="${SPARK_GRAFT_REPO:-$(cd "$(dirname "$0")/.." && pwd)}"
if [ -z "${SPARK_GRAFT_DIRTY+x}" ] && command -v git >/dev/null 2>&1 \
   && [ -n "$(git -C "$repo" status --porcelain -- src project build.sbt tools 2>/dev/null)" ]; then
  export SPARK_GRAFT_DIRTY=1
fi
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
