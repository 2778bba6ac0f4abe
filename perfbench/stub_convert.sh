#!/bin/sh
# Stand-in for the site's converter, honouring the engine's contract: exit 0
# and leave $OUTDIR/$OUTFILE behind on success. Runs whose base name starts
# with "poison" fail with a non-zero exit. With the argument "lie" it exits 0
# without writing anything (a broken converter the benchmark must catch).
case "$BASE" in poison*) echo "poison run $BASE" >&2; exit 3 ;; esac
[ "$1" = lie ] && exit 0
# Shell builtins only: one process per conversion, like one msconvert call.
read -r first < "$IN/f0.raw"
printf '%s\n' "$first" > "$OUTDIR/$OUTFILE"
