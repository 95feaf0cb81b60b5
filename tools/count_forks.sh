#!/bin/bash
# Counts the chmod / ls / stat processes a command spawns, per directory.
#
# Usage: tools/count_forks.sh <command...>
#   e.g. tools/count_forks.sh python3 perfbench/run.py --workload ingest_stream \
#          --seed 1 --seconds 10 --trace 0
#
# Puts logging wrappers for the three programs first on PATH, runs the
# command, then prints to stderr one line per program and directory (the
# directory of the spawn's last argument, which is the path it acts on)
# with its spawn count, busiest first, and a total per program. Hadoop's
# local file system without its native library shells out to these by
# bare name (Shell.execCommand), so a JVM started under the command
# inherits the wrapped PATH. The command's stdout and exit code pass
# through unchanged.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <command...>" >&2
  exit 2
fi
wrap=$(mktemp -d)
trap 'rm -rf "$wrap"' EXIT
log="$wrap/spawns.log"
: > "$log"
for prog in chmod ls stat; do
  real=$(command -v "$prog") || { echo "no $prog on PATH" >&2; exit 2; }
  # the wrapper only uses shell builtins, so it adds no spawn of its own
  cat > "$wrap/$prog" <<EOF
#!/bin/sh
last=.
for a in "\$@"; do last=\$a; done
case \$last in
  */*) dir=\${last%/*} ;;
  *) dir=. ;;
esac
case \$dir in
  /*) ;;
  *) dir=\$PWD/\$dir ;;
esac
printf '%s\t%s\n' $prog "\${dir:-/}" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$wrap/$prog"
done

PATH="$wrap:$PATH" "$@"
code=$?

{
  echo "spawns per program and directory:"
  sort "$log" | uniq -c | sort -k1,1nr -k2
  echo "totals:"
  cut -f1 "$log" | sort | uniq -c
  echo "all: $(wc -l < "$log")"
} >&2
exit $code
