#!/usr/bin/env bash
# Static hygiene gate for the graft engine source (the offline counterpart
# of a scalastyle/scalafmt setup — no external linters resolve in this
# sandbox, so the rules that matter are enforced with grep).
#
# Rules:
#  1. no unimplemented code markers in src/main (???, TODO, FIXME, XXX)
#  2. no tab characters (2-space indents everywhere)
#  3. no println in library code (mains Bench/Verify/GreenTaxiPipeline and
#     the ingest CLI logger are the only stdout surfaces)
#  4. no .collect( in ops/ outside the two fenced constant-size sites
#     (IVF centroid state; see Similarity.scala) — driver-side data
#     collects are the #1 scale anti-pattern
#  5. every oracle SQL ends with an ORDER BY (total output order is the
#     cross-engine hash-compare contract)
#  6. no sys.env read in ops/ outside ScaleChecks.scala (the scale tool's
#     SLICE_MOD) and lines marked lint-ok — a query runs ONE plan; a
#     settled A/B keeps its numbers in BENCH_NOTES, not an env-selected
#     second code path
#  7. no .count() under ingest/ — the strict checks ride the one observed
#     validation job; a count would be a second scan of the raw text
#  8. no .read.parquet( in Tables.scala, SparkEntry.scala, features/ or
#     streaming/ — those inputs resolve through Tables.parquet, whose schema
#     comes from an in-process footer read instead of Spark's one-job
#     schema inference
#  9. no conf.set( or conf.unset( in src/main — no library call may change
#     a shared session's conf (a toggle races every concurrent query on
#     that session); per-read behaviour goes in the read itself
set -u
cd "$(dirname "$0")/.."
fail=0

say() { echo "lint: $*"; }

# 1. unimplemented markers
if grep -rnE '\?\?\?|TODO|FIXME|XXX' src/main --include='*.scala' | grep -v 'lint-ok'; then
  say "FAIL: unimplemented-code markers in src/main"; fail=1
fi

# 2. tabs
if grep -rnP '\t' src --include='*.scala' | head -5 | grep .; then
  say "FAIL: tab characters found"; fail=1
fi

# 3. println outside sanctioned mains (the driver-contract mains plus the
#    scale-campaign tool mains, whose one-JSON-line-per-result stdout IS
#    their artifact interface)
if grep -rn 'println' src/main/scala/graft --include='*.scala' \
    | grep -vE 'Bench\.scala|Verify\.scala|GreenTaxiPipeline\.scala|Ingest\.scala|ScaleGen\.scala|ScaleCheck\.scala|ScaleSample\.scala|StreamScale\.scala|DedupProfile\.scala'; then
  say "FAIL: println in library code"; fail=1
fi

# 4. driver-side collects in the operator inventory. Excluded files:
#    Similarity.scala (budgeted below), ScaleChecks.scala (scale
#    VERIFICATION tool — its collects are dump-/trajectory-bounded, never
#    in a query hot path), DedupProfile.scala (profiling tool, bounded
#    curve output).
if grep -rn '\.collect()' src/main/scala/graft/ops --include='*.scala' \
    | grep -vE 'Similarity\.scala|ScaleChecks\.scala|DedupProfile\.scala'; then
  say "FAIL: unfenced .collect() in ops/"; fail=1
fi
n_sim=$(grep -c '\.collect()' src/main/scala/graft/ops/Similarity.scala)
if [ "$n_sim" -gt 5 ]; then
  say "FAIL: Similarity.scala grew a sixth .collect() (fenced budget is 5: two Lloyd trainers x (seed + per-round k*dim centroid rows) + the PQ codebook seed - all constant-size quantizer state)"; fail=1
fi

# 6. env-selected plan arms in the operator inventory
if grep -rn 'sys\.env' src/main/scala/graft/ops --include='*.scala' \
    | grep -v 'ScaleChecks\.scala' | grep -v 'lint-ok'; then
  say "FAIL: sys.env read in ops/ (plan-level env arm)"; fail=1
fi

# 7. extra validation scans in the ingest
if grep -rn '\.count()' src/main/scala/graft/ingest --include='*.scala'; then
  say "FAIL: .count() in ingest/ (strict checks ride the observed job)"; fail=1
fi

# 8. schema-inference jobs on the table and fixture inputs
if grep -rnF '.read.parquet(' src/main/scala/graft/Tables.scala \
    src/main/scala/graft/SparkEntry.scala src/main/scala/graft/features \
    src/main/scala/graft/streaming --include='*.scala'; then
  say "FAIL: .read.parquet( on a Tables.parquet input (schema-inference job)"; fail=1
fi

# 9. session-conf writes from library code
if grep -rnE 'conf\.(set|unset)\(' src/main --include='*.scala'; then
  say "FAIL: conf.set( / conf.unset( in src/main (shared session conf)"; fail=1
fi

if [ "$fail" -eq 0 ]; then say "OK"; fi
exit "$fail"
