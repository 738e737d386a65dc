#!/usr/bin/env bash
# Compare CorpusPipeline's corpus at another checkout with this one's:
#   tools/corpus_diff.sh PARENT_CHECKOUT [WORK_DIR]
# Runs `--rows 3000` in each checkout with the default flags, then with
# every flag (`--cluster --span-dedup --pack --host-cap 5 --stats --links
# --provenance --eval EVAL`). EVAL is WORK_DIR/eval.parquet: 200 windows
# of the parent's default `training_windows` as a `text` column, so the
# every-flag run drops documents at decontamination. Compares each
# configuration's printed "stages" JSON and runs tools/parquet_diff.py on
# its two output roots. Prints one line per comparison; exits 1 naming each
# comparison that differs, 2 when a run fails or an every-flag stage map
# does not show decontaminated < span_dedup. Outputs and sbt logs stay in
# WORK_DIR (default: a fresh temp dir). sbt runs as configured by the
# environment (SBT_OPTS, SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS).
set -euo pipefail
[ $# -ge 1 ] || { sed -n '2,15p' "$0"; exit 2; }
here=$(cd "$(dirname "$0")/.." && pwd)
parent=$(cd "$1" && pwd)
work=${2:-$(mktemp -d)}
mkdir -p "$work"
configs=(default every_flag)
declare -A flags=(
  [default]="--rows 3000"
  [every_flag]="--rows 3000 --cluster --span-dedup --pack --host-cap 5 --stats --links --provenance --eval $work/eval.parquet")

# One sbt session per checkout and configuration; its "stages" JSON line
# lands in $work/<side>.<config>.stages.
run() {
  local dir=$1 side=$2 cfg=$3
  echo "corpus_diff: running $cfg in $side ($dir)"
  if ! (cd "$dir" && sbt -batch "runMain graft.app.CorpusPipeline ${flags[$cfg]} --out $work/$side/$cfg") \
      > "$work/$side.$cfg.log" 2>&1; then
    echo "corpus_diff: the $side $cfg run failed, see $work/$side.$cfg.log"; exit 2
  fi
  grep -o '"stages":{[^}]*}' "$work/$side.$cfg.log" > "$work/$side.$cfg.stages" || true
  if [ "$(wc -l < "$work/$side.$cfg.stages")" -ne 1 ]; then
    echo "corpus_diff: the $side $cfg run printed no stage map, see $work/$side.$cfg.log"; exit 2
  fi
}
run "$parent" parent default
run "$here" change default

# The eval set: a fixed subset of the windows the default run trains on.
python3 - "$work/parent/default/training_windows" "$work/eval.parquet" <<'PY'
import sys, duckdb
duckdb.sql(f"""COPY (SELECT window_text AS text
    FROM read_parquet('{sys.argv[1]}/**/*.parquet', hive_partitioning = false)
    ORDER BY md5(url || '#' || win_id) LIMIT 200) TO '{sys.argv[2]}' (FORMAT PARQUET)""")
PY

run "$parent" parent every_flag
run "$here" change every_flag
for side in parent change; do
  if ! python3 -c 'import json, sys
s = json.loads("{" + open(sys.argv[1]).read() + "}")["stages"]
sys.exit(0 if s["decontaminated"] < s["span_dedup"] else 1)' "$work/$side.every_flag.stages"; then
    echo "corpus_diff: the $side every_flag run drops nothing at decontamination: $(cat "$work/$side.every_flag.stages")"
    exit 2
  fi
done

differ=()
for cfg in "${configs[@]}"; do
  a=$(cat "$work/parent.$cfg.stages")
  b=$(cat "$work/change.$cfg.stages")
  if [ "$a" = "$b" ]; then
    echo "$cfg: stages equal"
  else
    echo "$cfg: stages DIFFER"; echo "  parent $a"; echo "  change $b"
    differ+=("$cfg stages")
  fi
  if python3 "$here/tools/parquet_diff.py" "$work/parent/$cfg" "$work/change/$cfg" > "$work/$cfg.parquet_diff" 2>&1; then
    echo "$cfg: datasets equal ($(grep -c . "$work/$cfg.parquet_diff") lines of parquet_diff)"
  else
    echo "$cfg: datasets DIFFER"; sed 's/^/  /' "$work/$cfg.parquet_diff"
    differ+=("$cfg datasets")
  fi
done

if [ ${#differ[@]} -gt 0 ]; then
  printf 'corpus_diff: differs: %s\n' "${differ[@]}"
  exit 1
fi
echo "corpus_diff: no difference"
