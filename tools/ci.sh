#!/bin/sh
# Full verification battery: unit/integration suites, the benchmark
# self-tests, the physical-plan audit, every runnable tour in examples/
# executed headless (so the tours can't rot), then — MANDATORY LAST — regeneration of this round's full
# Spark-vs-DuckDB oracle artifact, the freshness gate over both committed
# full artifacts (CORRECTNESS_full must cover every registered query,
# BENCH_full must time every headline query), and a git-diff gate proving
# the COMMITTED artifacts match what the working tree regenerates — the
# freshness gate alone validated the file ci.sh itself just wrote, so a
# stale/divergent committed record could still ship. Registering a query
# after the artifact refresh, or committing an artifact that regeneration
# no longer reproduces, now fails CI. Any failure exits nonzero.
# ~30 min on 32 cores.
#
# SPARK_GRAFT_SKIP_COMMIT_CHECK=1 skips only the final git-diff gate (for
# iterating BEFORE the round's artifacts are first committed).
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/ -q
# the benchmark's self-tests: its probes and drivers call the bag decoders
# and runner.run_once directly
python -m pytest perfbench -q
python tools/audit_plans.py
for ex in examples/*.py; do
    echo "== $ex"
    python "$ex" > /dev/null
done
# round number from the ONE shared source (tools/roundno.py — bench.py
# uses the same), overridable via SPARK_GRAFT_ROUND
RND=$(printf "%02d" "$(python tools/roundno.py)")
python tools/check_correctness.py --json "CORRECTNESS_full_r${RND}.json"
python tools/check_artifact_freshness.py
if [ "${SPARK_GRAFT_SKIP_COMMIT_CHECK:-0}" != "1" ]; then
    for art in "CORRECTNESS_full_r${RND}.json" "BENCH_full_r${RND}.json"; do
        if [ -f "$art" ]; then
            git ls-files --error-unmatch "$art" > /dev/null 2>&1 || {
                echo "COMMIT-GATE: $art exists but is not committed" >&2
                exit 1
            }
            # diff vs HEAD, not the index: a staged-but-uncommitted
            # artifact that diverges from HEAD must also fail the gate
            git diff HEAD --exit-code -- "$art" || {
                echo "COMMIT-GATE: committed $art differs from the" \
                     "regenerated working-tree copy" >&2
                exit 1
            }
        fi
    done
fi
