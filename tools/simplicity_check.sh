#!/usr/bin/env bash
# Size and reachability of a checkout's src/main/scala, printed the same way
# for any commit, so a change and its parent are measured alike:
#   tools/simplicity_check.sh /tmp/parent    # a clone at the parent commit
#   tools/simplicity_check.sh .              # the working tree
# The verify SKILL's "Simplicity check" and "Reachability check" say what
# each count means. GNU grep only (no ripgrep needed); build output
# (`target/`), hidden directories and binary files are skipped, as
# ripgrep skips them.
set -euo pipefail
cd "${1:-.}"

src() { find src/main/scala -name '*.scala' -print0 | xargs -0 cat; }
refs() { grep -rIw --exclude-dir=target --exclude-dir='.*' "$@"; }

echo "== Simplicity check ($(pwd))"
echo "lines:                 $(src | wc -l)"
echo "non-blank non-comment: $(src | grep -cvE '^\s*$|^\s*(//|/\*|\*)')"
echo "files with a main:     $(grep -rl 'def main' src/main/scala | wc -l)"
echo "PayloadMemo built in:  $(grep -rl 'new PayloadMemo' src/main/scala | sed 's|^src/main/scala/graft/||' | sort | xargs)"
echo "SPARK_GRAFT_ env vars: $(grep -rhoE 'SPARK_GRAFT_[A-Z_]+' src/main/scala | sort -u | xargs)"
echo "flags per job:"
grep -rcE 'Flags\.(Valued|Switch)' src/main/scala | grep -v ':0$' | sort | sed 's/^/  /'

echo "== Reachability check (declarations no other src/main or perfbench file names)"
grep -roP \
  '^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?) )*(?:object|class|trait) \K\w+' \
  src/main/scala | sort -u |
while IFS=: read -r f n; do
  refs -l -- "$n" src/main/scala perfbench | grep -qvxF "$f" && continue
  echo "$n $f own=$(grep -cw -- "$n" "$f")" \
    "tests=$(refs -c -- "$n" src/test | awk -F: '{s+=$2} END {print s+0}')$(grep -q 'def main' "$f" && echo ' main')"
done
