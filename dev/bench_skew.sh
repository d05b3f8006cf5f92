#!/bin/bash
# Skew-tier scale evidence (VERDICT r11 worklist #6): ScaleData's uniform
# replication never stresses the skew machinery the repo ships, so this leg
# stages a Zipf-keyed variant of the sf1 corpus (50% of events.user_id,
# orders.o_custkey and lineitem.l_suppkey redirected onto a shared 100-key
# ~Zipf(1) hot set — the hottest key carries ~7% of ALL fact rows) and runs
# the ~10 skew-sensitive queries on BOTH stages, emitting BENCH_skew.json
# with the zipf/uniform ratio per query. Stage first (idempotent):
#   sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 scaledata/sf1 10"
#   sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 scaledata/sf1zipf 10 zipf"
set -e
cd "$(dirname "$0")/.."
# salted forms + their unsalted twins, per-hot-key windows/sessions, the
# profiler, and the two-phase agg: the queries whose plans CLAIM skew-safety
QUERIES="q03,q16,q17,q53,q55,q98,q135,q137,q152,q279,q319,q342"
REPS="${SPARK_GRAFT_REPS:-3}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_REPS="$REPS"
# size the AQE skew-split thresholds to the local stage (the 256 MB default
# is cluster-sized; the hot partition here is ~40 MB) so q319's governor
# actually engages — recorded in the artifact, defaults untouched elsewhere
export SPARK_GRAFT_CONF="spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=8MB;spark.sql.adaptive.advisoryPartitionSizeInBytes=4MB"

SPARK_GRAFT_SF_DIR="$PWD/scaledata/sf1" SPARK_GRAFT_BENCH_OUT=/tmp/bench_skew_uni.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_skew_uni.log 2>&1 || true
grep '"metric"' /tmp/bench_skew_uni.log || true
SPARK_GRAFT_SF_DIR="$PWD/scaledata/sf1zipf" SPARK_GRAFT_BENCH_OUT=/tmp/bench_skew_zipf.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_skew_zipf.log 2>&1 || true
grep '"metric"' /tmp/bench_skew_zipf.log || true

python3 - <<'EOF'
import json
a = json.load(open('/tmp/bench_skew_uni.json'))
b = json.load(open('/tmp/bench_skew_zipf.json'))
rows = {}
for q in sorted(a['queries']):
    t0, t1 = a['queries'][q], b['queries'].get(q)
    rows[q] = {
        'uniform_sec': t0, 'zipf_sec': t1,
        'ratio': round(t1 / t0, 2) if t1 and t0 > 0 else None,
        'spread_uniform': a.get('query_reps', {}).get(q, {}).get('spread'),
        'spread_zipf': b.get('query_reps', {}).get(q, {}).get('spread'),
    }
patho = {q: r['ratio'] for q, r in rows.items() if r['ratio'] and r['ratio'] > 3}
out = {
    'method': 'min-of-%d reps per query per stage, local[32], quiet box; both stages are 10x sf0.1 with IDENTICAL row counts — the zipf stage redirects 50%% of events.user_id / orders.o_custkey / lineitem.l_suppkey onto a shared 100-key ~Zipf(1) hot set (hottest key ~7%% of all fact rows), so any ratio >1 is pure distribution cost. AQE skew-split thresholds sized to the stage (8MB/4MB; cluster defaults 256MB/64MB) so the adaptive governor under test engages locally.' % int(a['reps']),
    'conf': 'spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=8MB;spark.sql.adaptive.advisoryPartitionSizeInBytes=4MB',
    'loadavg_uniform': a['loadavg_start'], 'loadavg_zipf': b['loadavg_start'],
    'total_uniform': a['value'], 'total_zipf': b['value'],
    'flagged_uniform': a.get('flagged', []), 'flagged_zipf': b.get('flagged', []),
    'errors_zipf': b.get('errors', {}),
    'pathological_gt3x': patho,
    'queries': rows,
}
open('BENCH_skew.json', 'w').write(json.dumps(out, indent=1) + '\n')
print('done; >3x under skew:', patho, 'errors:', out['errors_zipf'])
EOF
