#!/usr/bin/env python3
"""List verbatim copies: runs of lines that repeat an earlier run.

    python3 dev/dup_runs.py src/main/scala/graft/SparkEntry.scala \
        src/main/scala/graft/gates/*.scala

The files are read in the order given. `package` and `import` lines are
headers, not bodies: they are skipped. A line counts as repeated when the
WINDOW (6) whitespace-stripped lines starting at it, blank lines included,
already occurred earlier; no window crosses a file boundary. Prints each
maximal repeated run with the place it repeats, then the number of
repeated lines. Exit status is 0 when there are none, 1 otherwise.
"""
import sys

WINDOW = 6
HEADERS = ("package ", "import ")


def main(paths):
    lines = []  # (path, line number, stripped text)
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines += [(p, i, l.strip()) for i, l in enumerate(f.read().split("\n"), 1)
                      if not l.strip().startswith(HEADERS)]
    first = {}
    runs = []  # [start, end, first start] over window starts
    for k in range(len(lines) - WINDOW + 1):
        if lines[k][0] != lines[k + WINDOW - 1][0]:
            continue
        key = tuple(l[2] for l in lines[k:k + WINDOW])
        if key not in first:
            first[key] = k
        elif runs and runs[-1][1] == k - 1 and first[key] == runs[-1][2] + (k - runs[-1][0]):
            runs[-1][1] = k
        else:
            runs.append([k, k, first[key]])
    repeated = set()
    for start, end, orig in runs:
        repeated.update(range(start, end + WINDOW))
        p, i, _ = lines[start]
        q, j, _ = lines[orig]
        print(f"{p}:{i}-{i + end - start + WINDOW - 1} repeats {q}:{j}")
    print(f"{len(repeated)} repeated lines")
    return 1 if repeated else 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
