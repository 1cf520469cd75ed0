#!/usr/bin/env bash
# Stamp the ScalaTest / PlanAudit counts and the src/main Scala line
# count quoted in SURVEY.md and README.md from LIVE runs. Hand-written
# counts drifted four rounds in a row; this script is now the only way
# those numbers get into the docs. It refuses to stamp anything if a test fails.
#
# Usage: tools/gen_counts.sh
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[counts] running sbt test..." >&2
test_line=$(sbt -batch test 2>&1 | grep -E 'Tests: succeeded' | tail -1)
n_pass=$(grep -oE 'succeeded [0-9]+' <<<"$test_line" | grep -oE '[0-9]+')
n_fail=$(grep -oE 'failed [0-9]+' <<<"$test_line" | grep -oE '[0-9]+')
if [ -z "$n_pass" ] || [ "$n_fail" != "0" ]; then
  echo "[counts] REFUSING to stamp: '$test_line'" >&2
  exit 1
fi

echo "[counts] running PlanAudit..." >&2
audit_line=$(sbt -batch "runMain graft.PlanAudit" 2>&1 \
  | grep -oE '[0-9]+/[0-9]+ plan checks pass' | tail -1)
audit=$(grep -oE '^[0-9]+/[0-9]+' <<<"$audit_line")
a_pass=${audit%/*}; a_total=${audit#*/}
if [ -z "$audit" ] || [ "$a_pass" != "$a_total" ]; then
  echo "[counts] REFUSING to stamp: PlanAudit said '$audit_line'" >&2
  exit 1
fi

# lines of Scala in src/main, as the tree stands (committed or not)
n_lines=$(find src/main -name '*.scala' -print0 | xargs -0 cat | wc -l)

# the tree the runs saw: HEAD, plus a marker when it was not committed
tree=$(git rev-parse --short HEAD)
git diff --quiet HEAD || tree="$tree + uncommitted changes"

stamp="- \`sbt test\`: **$n_pass ScalaTests**, 0 failures.
- \`graft.PlanAudit\`: **$audit plan checks pass**.
- \`src/main\`: **$n_lines lines of Scala**.
- Stamped $(date -u +%Y-%m-%dT%H:%MZ) at commit $tree by tools/gen_counts.sh."

export stamp
python3 - <<'EOF'
import os, re
stamp = os.environ['stamp']
for f in ('SURVEY.md', 'README.md'):
    s = open(f).read()
    new = re.sub(r'<!-- COUNTS:BEGIN -->.*?<!-- COUNTS:END -->',
                 '<!-- COUNTS:BEGIN -->\n' + stamp + '\n<!-- COUNTS:END -->',
                 s, flags=re.S)
    assert new != s or stamp in s, f'{f}: COUNTS markers missing'
    open(f, 'w').write(new)
    print(f'[counts] stamped {f}')
EOF
echo "[counts] $n_pass ScalaTests / PlanAudit $audit / $n_lines src/main Scala lines" >&2
