#!/bin/bash
# Undriven-API probe: print each public def/class/object/trait name declared
# in src/main whose only mention in src/main and perfbench/src, with comments
# stripped, is its own declaration. Overrides are skipped (the framework
# calls them). Tests do not count as callers. Names are matched as words,
# so a name that another declaration or a string also spells is not
# reported. Usage: tools/undriven.sh
set -euo pipefail
cd "$(dirname "$0")/.."
# every source file with /* */ and // comments removed (a "//" inside a URL
# string such as "https://" is kept: it follows a non-space character)
stripped() {
  find src/main perfbench/src -name '*.scala' -print0 | xargs -0 cat |
    perl -0777 -pe 's{/\*(?=[\s*]).*?\*/}{}gs; s{(^|\s)//[^\n]*}{$1}gm'
}
text=$(stripped)
decl='^\s*((final|sealed|abstract|case|implicit|lazy)\s+)*(def|class|object|trait)\s+'
grep -P "$decl" <<<"$text" | grep -Pv '\b(private|protected|override)\b' |
  perl -ne 'print "$1\n" if /\b(?:def|class|object|trait)\s+([A-Za-z_]\w*)/' |
  sort -u |
  while read -r name; do
    n=$(grep -ow "$name" <<<"$text" | wc -l)
    if [ "$n" -le 1 ]; then echo "$name"; fi
  done
