#!/bin/bash
# Round-13 measurement chain: the mover commit A/B, the planner-alone
# filtered-beam rung at 100x, the honest fast-verify re-measure, the TA
# prune-bypass re-attribution (base + 100x), the fast MinHash family
# scaling decades, and the q_hnsw_serve 1000x tightening.
set -e
cd /root/repo
JF="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED -Dio.netty.tryReflectionSetAccessible=true"
CP="target/scala-2.13/classes:/opt/spark/jars/*"

echo "=== [1/6] zero-steal mover commit A/B (r12 verdict item 4) ==="
# git worktree add /tmp/r11wt abd9402 && (cd /tmp/r11wt && sbt -batch compile)
# git worktree add /tmp/r12wt 337e335 && (cd /tmp/r12wt && sbt -batch compile)
python3 scripts/ab_movers_r13.py

echo "=== [2/6] planner-alone filtered-beam rung at 100x (r12 verdict item 1) ==="
SPARK_GRAFT_CPUS=32 GRAFT_DUP_MULT=100 \
  java -Xmx16g -Xms16g $JF -cp "$CP" graft.FilteredBeamScale \
  /tmp/graft_scale_100x vamana 4 64 2>/dev/null | tail -1

echo "=== [3/6] honest fast-verify re-measure at 500k docs (ADVICE r12) ==="
java -Xmx16g -Xms16g $JF -cp "$CP" graft.MinhashStages \
  /tmp/graft_scale_100x 3 fast 2>/dev/null | tail -1

echo "=== [4/6] TA prune-bypass re-attribution (base + 100x) ==="
SPARK_GRAFT_CPUS=32 java -Xmx16g -Xms16g $JF -cp "$CP" graft.TaStages \
  /root/testdata/sf0.1 5 2>/dev/null | tail -1
SPARK_GRAFT_CPUS=32 java -Xmx16g -Xms16g $JF -cp "$CP" graft.TaStages \
  /tmp/graft_scale_100x 5 2>/dev/null | tail -1

echo "=== [5/6] fast MinHash family scaling decades (r12 verdict item 2) ==="
for m in 10 30 100; do
  SPARK_GRAFT_ITERS=5 python3 scripts/bench_scaling.py $m \
    q_minhash_lsh_fast q_minhash_fast_cands
done
SPARK_GRAFT_ITERS=5 python3 scripts/bench_scaling.py 1000 \
  q_minhash_lsh_fast q_minhash_fast_cands
java -Xmx16g -Xms16g $JF -cp "$CP" graft.MinhashStages \
  /tmp/graft_scale_1000x 3 fast 2>/dev/null | tail -1

echo "=== [6/6] q_hnsw_serve 1000x tightening (7 iters) + TA 1000x re-measure ==="
SPARK_GRAFT_ITERS=7 python3 scripts/bench_scaling.py 1000 \
  q_hnsw_serve q_ta_persisted
echo "=== DONE ==="
