#!/usr/bin/env bash
# The reference's wordcount reduce: sums the counts of each key over an
# unsorted `key<TAB>count` stream and prints `key<TAB>sum`.
LC_ALL=C awk -F '\t' '{ s[$1] += $2 } END { for (k in s) print k "\t" s[k] }'
