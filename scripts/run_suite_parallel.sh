#!/usr/bin/env bash
# Full test suite in ~1/3 the wall time: the fast path (everything but
# the oracle sweep) runs alongside the sweep sharded 4 ways by query
# name (disjoint name-modulo slices — see tests/test_queries_oracle.py).
# Exit status is non-zero if ANY leg fails. Logs land in /tmp.
set -u
cd "$(dirname "$0")/.."
# five JVMs share the host: a tenth of its RAM each (build_session keeps it)
ram_gb=$(awk '/MemTotal/ {print int($2 / 1048576)}' /proc/meminfo)
export SPARK_GRAFT_DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-$(( ram_gb / 10 > 2 ? ram_gb / 10 : 2 ))g}"
pids=()
python -m pytest tests/ -q -m "not sweep" >/tmp/pytest_fast.log 2>&1 &
pids+=($!)
for i in 0 1 2 3; do
  SWEEP_SHARD=$i/4 python -m pytest tests/test_queries_oracle.py -q \
    >/tmp/pytest_sweep_$i.log 2>&1 &
  pids+=($!)
done
rc=0
for p in "${pids[@]}"; do
  wait "$p" || rc=1
done
tail -n1 /tmp/pytest_fast.log /tmp/pytest_sweep_*.log
exit $rc
