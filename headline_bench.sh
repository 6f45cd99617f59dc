#!/bin/bash
# Headline-scale SGA measurement, probe-gated (VERDICT r11 Next #2).
# Probes first; only runs the expensive GA when the host is in the
# quiet band (calibration <= 0.25 AND membw >= 2.5 GB/s). Exits 2 on
# a noisy host so a caller can cheaply retry later.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
probe() {
  echo "== probe $1 $(date -u +%H:%M:%S) uptime: $(uptime)"
  java -Xmx8g $OPENS -cp "$CP" graft.Bench __probe__ 2>/dev/null | tail -1
}
GENS="${GENS:-3}"
P=$(probe before)
echo "$P"
CAL=$(echo "$P" | grep -o '"calibration":[0-9.]*' | cut -d: -f2)
BW=$(echo "$P" | grep -o '"membw_gbps":[0-9.-]*' | cut -d: -f2)
# aggregate (32-proc) bandwidth probe: the single-thread probe is
# BLIND to fabric saturation by neighbors — round 13 measured 46-54
# s/gen in a window where single-thread read 5.5 GB/s but the
# aggregate had collapsed to 36 GB/s (vs 432 when the 13.3 record
# was set the same day). 32 mutator threads live on the aggregate.
AGG=$(python3 - <<'PYEOF'
import multiprocessing as mp, time
def w(_):
    n = 32*1024*1024
    a = bytearray(n); t0=time.time()
    for _ in range(4): b = bytes(a); del b
    return 2*n*4/(time.time()-t0)/1e9
with mp.Pool(32) as pool:
    print(f"{sum(pool.map(w, range(32))):.0f}")
PYEOF
)
echo "== aggregate membw ${AGG} GB/s (32 procs)"
# Aggregate threshold recalibrated round 17 (BASELINE.md "QUIET-BAND
# RECALIBRATION"): the host's bandwidth cap changed around round 15 —
# idle-load probes now read 20-40 GB/s aggregate where 100-430 was
# once normal. 15 keeps the gate meaningful (a genuine neighbor storm
# reads < 10) without waiting forever for a band that no longer exists.
QUIET=$(python3 -c "print(1 if (float('$CAL' or 9) <= 0.25 and float('$BW' or 0) >= 2.5 and float('$AGG' or 0) >= 15) else 0)" 2>/dev/null || echo 0)
if [ "$QUIET" != "1" ] && [ "$FORCE" != "1" ]; then
  echo "== host not quiet (calibration=$CAL membw=$BW) — skipping GA run"
  exit 2
fi
echo "== headline GaBench start $(date -u +%H:%M:%S) (calibration=$CAL membw=$BW)"
# ParallelGC: the round-12 resolution of the "deferred headline row"
# — G1 cost 2.1-2.6x at this scale (see BASELINE.md round-12)
SPARK_GRAFT_CPUS=32 \
  java -Xmx64g -XX:+UseParallelGC $OPENS -cp "$CP" \
  graft.GaBench 10000 1330000 "$GENS" 32 2>/dev/null | tail -1
echo "== headline GaBench end $(date -u +%H:%M:%S)"
probe after
