#!/bin/bash
# SCALE GATE (VERDICT r19 #4): re-run the widened-branch / guard-contract
# surface beyond fixture in ONE command and fail loudly on regression —
# the committed, re-runnable form of the ad-hoc probe_r{18,19} scripts.
#
#   tools/scalegate.sh            # full manifest (hours — run solo)
#   tools/scalegate.sh name ...   # subset by manifest name
#
# Each manifest line runs in a fresh JVM (plain java — sbt locks and
# breaks Soak-style children; see tools/scalecurve.sh) at 8 g / 32 cpus;
# every probe prints its per-run stage breakdown (tools/StageLog.scala),
# and logs land in scalegate_logs/<name>.log. A line
# FAILS when its rc/pattern expectation breaks or its cold run exceeds
# the (generous, ~2x quiet-host) envelope. Corpora are bootstrapped on
# first use:
#   docs10m  = GenCorpus  /tmp/graft_sf10m  10000000 20000    (~1.7 GB)
#   vecs10m  = GenCorpus  /tmp/graft_sf10mv 10000    10000000 (~2.5 GB)
#   media1m  = GenMedia   /tmp/graft_media  1000000           (~2.3 GB)
#   skew1m   = GenSkewCorpus /tmp/graft_skew 1000000 0.05
set -u
cd "$(dirname "$0")/.."
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED \
 --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
 --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JAVA="java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp $CP"
GUARD_MARKER="graft.Dedup bucket guard"
mkdir -p scalegate_logs

bootstrap() { # corpus key -> dir (generating if absent)
  case "$1" in
    docs10m) d=/tmp/graft_sf10m
      [ -d "$d/documents.parquet" ] || SPARK_GRAFT_CPUS=32 $JAVA graft.tools.GenCorpus "$d" 10000000 20000 ;;
    vecs10m) d=/tmp/graft_sf10mv
      [ -d "$d/documents.parquet" ] || SPARK_GRAFT_CPUS=32 $JAVA graft.tools.GenCorpus "$d" 10000 10000000 ;;
    media1m) d=/tmp/graft_media
      [ -d "$d/media.parquet" ] || SPARK_GRAFT_CPUS=24 java $OPENS -Xmx12g -Dspark.ui.enabled=false \
        -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.tools.GenMedia "$d" 1000000 ;;
    skew1m) d=/tmp/graft_skew
      [ -d "$d/documents.parquet" ] || SPARK_GRAFT_CPUS=32 $JAVA graft.tools.GenSkewCorpus "$d" 1000000 0.05 ;;
    none) d="" ;;
    *) echo "unknown corpus '$1'" >&2; return 1 ;;
  esac
  echo "$d"
}

pass=0; fail=0; failed=""
while IFS='|' read -r name tool corpus args expect maxcold; do
  case "$name" in ''|\#*) continue ;; esac
  if [ $# -gt 0 ]; then
    keep=0; for want in "$@"; do [ "$want" = "$name" ] && keep=1; done
    [ $keep = 1 ] || continue
  fi
  dir=$(bootstrap "$corpus") || { echo "[scalegate] $name BOOTSTRAP-FAIL"; fail=$((fail+1)); failed="$failed $name"; continue; }
  log="scalegate_logs/$name.log"
  start=$(date +%s)
  case "$tool" in
    probe) SPARK_GRAFT_CPUS=32 \
      timeout 7200 $JAVA graft.tools.ProbeQuery $args "$dir" 2 > "$log" 2>&1 ;;
    media) SPARK_GRAFT_CPUS=32 \
      timeout 7200 $JAVA graft.tools.MediaProbe $args "$dir" 2 > "$log" 2>&1 ;;
    train) SPARK_GRAFT_CPUS=32 \
      timeout 7200 $JAVA graft.tools.TrainProbe $args > "$log" 2>&1 ;;
    ewma)  SPARK_GRAFT_CPUS=32 \
      timeout 7200 $JAVA graft.tools.EwmaProbe $args > "$log" 2>&1 ;;
    *) echo "[scalegate] $name: unknown tool '$tool'" >&2; fail=$((fail+1)); failed="$failed $name"; continue ;;
  esac
  rc=$?
  secs=$(( $(date +%s) - start ))
  # cold wall from the probe's own run-1 line when present; else wall clock
  cold=$(grep -oE 'run 1: *[0-9]+\.[0-9]+' "$log" | head -1 | grep -oE '[0-9]+\.[0-9]+')
  cold=${cold:-$secs}
  ok=1; why=""
  case "$expect" in
    ok|widened)
      [ $rc -eq 0 ] || { ok=0; why="rc=$rc"; }
      grep -qE '\[probe\]|\[train-probe\]' "$log" || { ok=0; why="$why no-probe-line"; }
      if [ "$expect" = widened ]; then
        grep -q '\[explode-width\]' "$log" || { ok=0; why="$why no-widened-regime"; }
      fi
      awk -v c="$cold" -v m="$maxcold" 'BEGIN{exit !(c+0 > m+0)}' && { ok=0; why="$why cold=${cold}s>envelope=${maxcold}s"; }
      ;;
    refusal)
      [ $rc -ne 0 ] || { ok=0; why="rc=0, guard did not refuse"; }
      grep -q "$GUARD_MARKER" "$log" || { ok=0; why="$why no-guard-marker"; }
      awk -v c="$secs" -v m="$maxcold" 'BEGIN{exit !(c+0 > m+0)}' && { ok=0; why="$why wall=${secs}s>envelope=${maxcold}s (refusal must be fast)"; }
      ;;
    *) ok=0; why="unknown expect '$expect'" ;;
  esac
  if [ $ok = 1 ]; then
    echo "[scalegate] $name OK (cold=${cold}s wall=${secs}s expect=$expect)"
    pass=$((pass+1))
  else
    echo "[scalegate] $name FAIL ($why) — see $log"
    fail=$((fail+1)); failed="$failed $name"
  fi
done < tools/scalegate.manifest

echo "[scalegate] $pass ok, $fail fail${failed:+ —$failed}"
[ $fail = 0 ]
