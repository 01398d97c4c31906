#!/usr/bin/env bash
# List every top-level main class that no declared entry point reaches.
#
# Usage: scripts/reachability.sh [classesDir]
#   classesDir defaults to target/scala-2.13/classes (sbt compile).
#
# Walks the class-to-class edges that `jdeps -verbose:class -filter:none`
# reports inside classesDir, starting from the declared roots:
#   - the mains graft.Bench, graft.Verify, graft.Smoke, graft.tools.ScaleUp;
#   - graft.sources.CovidReportSource, which Spark loads by DataSource name;
#   - every graft.* name that perfbench/src imports or loads by name
#     (grepped from the sources, so the list follows perfbench).
# A top-level class (the name up to its first `$`) counts as reached when
# any of its classes is. Prints each unreached one and exits 1 if there is
# any, 0 if there is none.
set -euo pipefail
cd "$(dirname "$0")/.."

classes="${1:-target/scala-2.13/classes}"
if [ ! -d "$classes" ]; then
  echo "reachability: no class directory $classes (run sbt compile first)" >&2
  exit 2
fi

walk=$(cat <<'PY'
import os, re, sys
from collections import defaultdict

classes_dir, perfbench_src = sys.argv[1], sys.argv[2]
ROOTS = ["graft.Bench", "graft.Verify", "graft.Smoke", "graft.tools.ScaleUp",
         "graft.sources.CovidReportSource"]

known = set()
for d, _, files in os.walk(classes_dir):
    for f in files:
        if f.endswith(".class") and f not in ("module-info.class", "package-info.class"):
            rel = os.path.relpath(os.path.join(d, f[:-len(".class")]), classes_dir)
            known.add(rel.replace(os.sep, "."))

def top(c):
    return c.split("$", 1)[0]

tops = {top(c) for c in known}
by_top = defaultdict(set)
for c in known:
    by_top[top(c)].add(c)

edges = defaultdict(set)
for line in sys.stdin:
    parts = line.split()
    if len(parts) >= 3 and parts[1] == "->" and parts[0] in known and parts[2] in known:
        edges[parts[0]].add(parts[2])

def resolve(name):
    """The longest prefix of a dotted name that is a top-level class."""
    segs = name.split(".")
    for n in range(len(segs), 0, -1):
        if ".".join(segs[:n]) in tops:
            return ".".join(segs[:n])
    return None

roots = set(ROOTS)
name = r"(?<![\w.$])graft(?:\.\w+)+"
for f in sorted(os.listdir(perfbench_src)):
    if not f.endswith(".scala"):
        continue
    src = open(os.path.join(perfbench_src, f), encoding="utf-8").read()
    for pkg, sel in re.findall(r"import\s+(" + name + r")\.\{([^}]*)\}", src):
        for s in sel.split(","):
            roots.add(pkg + "." + s.split("=>")[0].strip())
    for pkg in re.findall(r"import\s+(" + name + r")\._", src):
        roots.update(t for t in tops if t.rsplit(".", 1)[0] == pkg)
    roots.update(re.findall(name, src))

todo = [c for r in roots if resolve(r) for c in by_top[resolve(r)]]
seen = set(todo)
while todo:
    for d in edges[todo.pop()]:
        if d not in seen:
            seen.add(d)
            todo.append(d)

unreached = sorted(tops - {top(c) for c in seen})
for t in unreached:
    print(t)
sys.exit(1 if unreached else 0)
PY
)

jdeps -verbose:class -filter:none "$classes" | python3 -c "$walk" "$classes" perfbench/src
