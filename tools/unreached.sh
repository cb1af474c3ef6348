#!/usr/bin/env bash
# Lists program code that nothing reaches, from the repository root:
#  - a src/main/scala file that defines no `main` and none of whose
#    top-level objects, classes or traits is named by another file under
#    src/main/scala, perfbench/src or deploy/;
#  - a def (not an override) whose name occurs in those trees only on the
#    lines that define it.
# Prints one line per finding and nothing when everything is reached.
# Usage: tools/unreached.sh
set -euo pipefail
cd "$(dirname "$0")/.."
roots=(src/main/scala perfbench/src deploy)

for f in $(find src/main/scala -name '*.scala' | sort); do
  grep -qE '\bdef main\(' "$f" && continue
  names=$(grep -oE '^(private(\[[a-z]+\])? |final |sealed |abstract |case )*(object|class|trait) [A-Za-z0-9_]+' "$f" \
    | awk '{print $NF}' | sort -u)
  reached=0
  for n in $names; do
    if grep -rlw --exclude-dir=target "$n" "${roots[@]}" | grep -qvxF "$f"; then reached=1; break; fi
  done
  [ "$reached" = 1 ] || echo "unreached file: $f (${names//$'\n'/ })"
done

words=$(mktemp); defs=$(mktemp)
trap 'rm -f "$words" "$defs"' EXIT
grep -rhoE --exclude-dir=target '[A-Za-z_][A-Za-z0-9_]*' "${roots[@]}" | sort | uniq -c \
  | awk '{print $2, $1}' | sort > "$words"
grep -rhE '^\s*((private|protected)(\[[A-Za-z]+\])? |final |implicit |lazy )*def [A-Za-z_][A-Za-z0-9_]*' \
  src/main/scala | sed -E 's/.*def ([A-Za-z_][A-Za-z0-9_]*).*/\1/' | sort | uniq -c \
  | awk '{print $2, $1}' | sort > "$defs"
join "$defs" "$words" | awk '$2 == $3 && $1 != "main" {print "unreached def: " $1}' \
  | while read -r line; do
      n=${line##* }
      echo "$line ($(grep -rlE --include='*.scala' "def $n\b" src/main/scala | tr '\n' ' ' | sed 's/ $//'))"
    done
