#!/bin/bash
# Second-decade skew tier (VERDICT r12 worklist #5): skew pathologies are
# VOLUME-dependent — a hot partition that fits in memory at the sf1 stage
# can cross the spill threshold at sf10 — so the Zipf-vs-uniform comparison
# re-runs at 100x. Same query set and conf as dev/bench_skew.sh, stages
# scaledata/sf10 vs scaledata/sf10zipf, emits BENCH_skew10.json. Stage
# first (idempotent, ~2 GB each):
#   sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 scaledata/sf10 100"
#   sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 scaledata/sf10zipf 100 zipf"
set -e
cd "$(dirname "$0")/.."
QUERIES="q03,q16,q17,q53,q55,q98,q135,q137,q152,q279,q319,q342"
REPS="${SPARK_GRAFT_REPS:-2}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_REPS="$REPS"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}"
# skew-split thresholds sized to the stage (recorded in the artifact; absent
# from official driver runs) — the sf10 hot partition is ~400 MB, so the
# cluster-default 256 MB threshold DOES engage here; keep the sf1-stage conf
# anyway so both decades measure the same governor settings
export SPARK_GRAFT_CONF="spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=8MB;spark.sql.adaptive.advisoryPartitionSizeInBytes=4MB"

SPARK_GRAFT_SF_DIR="$PWD/scaledata/sf10" SPARK_GRAFT_BENCH_OUT=/tmp/bench_skew10_uni.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_skew10_uni.log 2>&1 || true
grep '"metric"' /tmp/bench_skew10_uni.log || true
SPARK_GRAFT_SF_DIR="$PWD/scaledata/sf10zipf" SPARK_GRAFT_BENCH_OUT=/tmp/bench_skew10_zipf.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_skew10_zipf.log 2>&1 || true
grep '"metric"' /tmp/bench_skew10_zipf.log || true

python3 - <<'EOF'
import json
a = json.load(open('/tmp/bench_skew10_uni.json'))
b = json.load(open('/tmp/bench_skew10_zipf.json'))
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
    'method': 'min-of-%d reps per query per stage, local[32], quiet box; both stages are 100x sf0.1 with IDENTICAL row counts — the zipf stage redirects 50%% of events.user_id / orders.o_custkey / lineitem.l_suppkey onto a shared 100-key ~Zipf(1) hot set (hottest key ~7%% of all fact rows). Second-decade twin of BENCH_skew.json: skew cost is volume-dependent (spill thresholds), so the sf1-stage ratios alone cannot bound it.' % int(a['reps']),
    'conf': 'spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=8MB;spark.sql.adaptive.advisoryPartitionSizeInBytes=4MB',
    'loadavg_uniform': a['loadavg_start'], 'loadavg_zipf': b['loadavg_start'],
    'total_uniform': a['value'], 'total_zipf': b['value'],
    'flagged_uniform': a.get('flagged', []), 'flagged_zipf': b.get('flagged', []),
    'errors_zipf': b.get('errors', {}),
    'pathological_gt3x': patho,
    'queries': rows,
}
open('BENCH_skew10.json', 'w').write(json.dumps(out, indent=1) + '\n')
print('done; >3x under skew at sf10:', patho, 'errors:', out['errors_zipf'])
EOF
