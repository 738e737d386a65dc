#!/usr/bin/env bash
# Compare CorpusPipeline's corpus at another checkout with this one's:
#   tools/corpus_diff.sh PARENT_CHECKOUT [WORK_DIR]
# Runs `--rows 3000` twice in each checkout, with the default flags and
# with every flag (`--cluster --span-dedup --pack --host-cap 5 --stats
# --links --provenance --eval perfbench/data/sf0.001/documents.parquet`,
# an eval set with a `text` column, only read), then compares each
# configuration's printed "stages" JSON and runs tools/parquet_diff.py on
# its two output roots. Prints one line per comparison; exits 1 naming each
# comparison that differs, 2 when a run fails. Outputs and sbt logs stay in
# WORK_DIR (default: a fresh temp dir). sbt runs as configured by the
# environment (SBT_OPTS, SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS).
set -euo pipefail
[ $# -ge 1 ] || { sed -n '2,12p' "$0"; exit 2; }
here=$(cd "$(dirname "$0")/.." && pwd)
parent=$(cd "$1" && pwd)
work=${2:-$(mktemp -d)}
mkdir -p "$work"
configs=(default every_flag)
declare -A flags=(
  [default]="--rows 3000"
  [every_flag]="--rows 3000 --cluster --span-dedup --pack --host-cap 5 --stats --links --provenance --eval $here/perfbench/data/sf0.001/documents.parquet")

# One sbt session per checkout runs both configurations; the "stages"
# JSON lines land in $work/<side>.stages, one per configuration, in order.
run() {
  local dir=$1 side=$2 cmds=()
  for cfg in "${configs[@]}"; do
    cmds+=("runMain graft.app.CorpusPipeline ${flags[$cfg]} --out $work/$side/$cfg")
  done
  echo "corpus_diff: running $side ($dir)"
  if ! (cd "$dir" && sbt -batch "${cmds[@]}") > "$work/$side.log" 2>&1; then
    echo "corpus_diff: the $side run failed, see $work/$side.log"; exit 2
  fi
  grep -o '"stages":{[^}]*}' "$work/$side.log" > "$work/$side.stages" || true
  if [ "$(wc -l < "$work/$side.stages")" -ne "${#configs[@]}" ]; then
    echo "corpus_diff: the $side run printed no stage map per configuration, see $work/$side.log"; exit 2
  fi
}
run "$parent" parent
run "$here" change

differ=()
for i in "${!configs[@]}"; do
  cfg=${configs[$i]}
  a=$(sed -n "$((i + 1))p" "$work/parent.stages")
  b=$(sed -n "$((i + 1))p" "$work/change.stages")
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
