#!/usr/bin/env bash
# The reference's wordcount map as a stdin/stdout filter: lowercase,
# every byte that is not an ASCII letter or digit becomes a space, and
# each word is emitted as `word<TAB>1`.
LC_ALL=C tr 'A-Z' 'a-z' | LC_ALL=C tr -c 'a-z0-9\n' ' ' \
  | awk '{ for (i = 1; i <= NF; i++) print $i "\t1" }'
