#!/bin/bash
# Runs RegimeProbe.scala (this folder) in one checkout, one JVM.
# Usage:
#   run_probe.sh <tree> <dataDir> <side> <out.jsonl> <op,op,...> [nodeLimit]
# <tree> is a throwaway checkout (`git archive <rev> | tar -x -C <tree>`):
# the script copies the probe into its src/test and, when [nodeLimit] is
# given, makes its GraphOps.NodeLimit read the `graft.nodeLimit` system
# property (nodeLimit 0 forces every body's partitioned regime; the
# default, 1,000,000, is above the probe graph's 400k nodes). The first
# run compiles the tree and writes the probe graph to <dataDir>; later
# runs reuse both (delete <tree>/.probe_cp after editing the tree).
set -eu
tree=$1 data=$2 side=$3 out=$4 ops=$5 limit=${6:-}
here=$(cd "$(dirname "$0")" && pwd)
cp "$here/RegimeProbe.scala" "$tree/src/test/scala/graft/RegimeProbe.scala"
g="$tree/src/main/scala/graft/operators/GraphOps.scala"
grep -q 'graft.nodeLimit' "$g" || sed -i 's/val NodeLimit: Long = 1000000L$/val NodeLimit: Long = sys.props.get("graft.nodeLimit").fold(1000000L)(_.toLong)/' "$g"
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx2g}"
if [ ! -s "$tree/.probe_cp" ]; then
  (cd "$tree" && sbt -batch -Dsbt.log.noformat=true "export Test/fullClasspath" \
    | grep -v '^\[' | tail -1 > .probe_cp)
fi
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
  java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
  sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
props=""
[ -n "$limit" ] && props="-Dgraft.nodeLimit=$limit"
java $opens -Xmx6g -XX:+UseParallelGC -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC $props -cp "$(cat "$tree/.probe_cp")" \
  graft.RegimeProbe "$data" "$side" "$out" "$ops" 2> "$out.$side.stderr" \
  | grep '^{'
