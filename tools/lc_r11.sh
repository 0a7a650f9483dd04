#!/usr/bin/env bash
# Round-11 local-cluster artifact (VERDICT r10 #3): multi-JVM runs at
# sf0.01 of (a) graft.Verify + oracle for the ten routed registry
# queries (dense route on the uniform fixture) and (b) graft.ChunkedParity
# for all nine dense/chunked pairs (the union-boundary forms).
# The report goes to stdout and to $OUT/report.txt (a fresh temp dir,
# also holding the Verify dump); the committed
# CORRECTNESS_r11_localcluster.txt is the round-11 record and is not
# rewritten. SPARK_GRAFT_CPUS keeps graft.Harness's default (this
# machine's core count) unless set by the caller.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${SF_DIR:-/root/testdata/sf0.01}"
ROUTED=(q44_sessionize q62_funnel q107_transitions q112_ewma
        q115_rolling_median q118_twap q142_window_funnel
        q154_seq_pattern q155_scd2 q158_sessionize_skewsafe)
ADD_OPENS=()
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "$p=ALL-UNNAMED")
done
EXEC_OPENS="${ADD_OPENS[*]}"
JAVA=(env SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
      SPARK_GRAFT_MASTER="local-cluster[2,8,2048]"
      java "${ADD_OPENS[@]}" -Dspark.ui.enabled=false
      -Dspark.sql.session.timeZone=UTC
      "-Dspark.executor.extraClassPath=$PWD/target/scala-2.13/classes"
      "-Dspark.executor.extraJavaOptions=$EXEC_OPENS"
      "-Xmx${SPARK_DRIVER_MEM:-8g}"
      -cp "target/scala-2.13/classes:/opt/spark/jars/*")
OUT="$(mktemp -d /tmp/lc_r11.XXXXXX)"
{
  echo "== routed registry queries, graft.Verify + DuckDB oracle, $SF, local-cluster[2,8,2048] =="
  "${JAVA[@]}" graft.Verify "$SF" "$OUT" "${ROUTED[@]}" >/dev/null
  python3 tools/oracle_check.py "$SF" "$OUT" "${ROUTED[@]}"
  echo
  echo "== dense vs chunked parity (union-boundary forms), graft.ChunkedParity, $SF, local-cluster[2,8,2048] =="
  "${JAVA[@]}" graft.ChunkedParity "$SF"
} | tee "$OUT/report.txt"
echo "report: $OUT/report.txt" >&2
