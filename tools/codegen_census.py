#!/usr/bin/env python3
"""Census of the classes Spark's code generator compiles, pass by pass.

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=tools/codegen-debug.log4j2.properties \\
        python3 perfbench/run.py --workload llm_corpus --seed 1301 --seconds 2
    python3 tools/codegen_census.py .bench_build/last-run.log

The log4j2 file makes Spark's ``CodeGenerator`` print, at DEBUG, the
source of every class it compiles (a compilation is a miss in its code-gen
cache) together with the compiling thread's name. The census splits the
log at the ``perfbench: pass N`` lines the benchmark prints at the end of
each pass; pass 0 is the cold pass and includes set-up. Per pass it prints:

- compilations, distinct sources and generated lines compiled;
- sources compiled both on the driver and on a task thread (the cache key
  holds the class loader, so each such source takes two cache entries);
- compilations by kind: whole-stage classes versus standalone projection,
  predicate, ordering and other classes;
- groups of sources that differ only in their codegen stage id;
- sources that no earlier pass compiled. In a benchmark whose passes run
  the same work, these change from pass to pass, so the cache can never
  hit them; the first line each differs in from its nearest earlier
  source is shown.

It only reads the log.
"""

import argparse
import collections
import re
import sys

RECORD = re.compile(
    r"^\d\d:\d\d:\d\d\.\d{3} (?P<level>[A-Z]+) \[(?P<thread>.*)\] "
    r"(?P<logger>[\w$.]+): ?(?P<msg>.*)$")
PASS_END = re.compile(r"^perfbench: pass +(\d+) ")
STAGE_ID = re.compile(r"GeneratedIteratorForCodegenStage\d+|codegenStageId=\d+")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
KINDS = (
    ("whole-stage", "GeneratedIteratorForCodegenStage"),
    ("projection", "class SpecificUnsafeProjection"),
    ("projection", "class SpecificMutableProjection"),
    ("projection", "class SpecificSafeProjection"),
    ("predicate", "class SpecificPredicate"),
    ("ordering", "class SpecificOrdering"),
)


def is_task_thread(thread):
    return thread.startswith("Executor task launch worker")


def kind_of(source):
    for kind, marker in KINDS:
        if marker in source:
            return kind
    return "other"


def read_passes(path):
    """[(pass number, [(thread, source), ...]), ...] in log order."""
    passes, current, record = [], [], None

    def flush():
        if record is not None:
            current.append((record[0], "\n".join(record[1])))

    with open(path, errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            end = PASS_END.match(line)
            m = RECORD.match(line)
            if end or m:
                flush()
                record = None
            if end:
                passes.append((int(end.group(1)), current))
                current = []
            elif m:
                if (m.group("level") == "DEBUG"
                        and m.group("logger") == "CodeGenerator"):
                    record = (m.group("thread"), [])
            elif record is not None:
                record[1].append(LINE_NO.sub("", line))
    flush()
    if current:
        passes.append((len(passes), current))
    return passes


def first_difference(a, b):
    for x, y in zip(a.splitlines(), b.splitlines()):
        if x != y:
            return x.strip(), y.strip()
    return None


def nearest(source, earlier):
    """The earlier source of the same kind sharing the most lines."""
    lines = set(source.splitlines())
    kind = kind_of(source)
    best, score = None, -1
    for e in earlier:
        if kind_of(e) != kind:
            continue
        s = len(lines.intersection(e.splitlines()))
        if s > score:
            best, score = e, s
    return best


def report(passes, show, out):
    seen = set()
    for number, comps in passes:
        sources = collections.OrderedDict()
        for thread, src in comps:
            sources.setdefault(src, set()).add(
                "task" if is_task_thread(thread) else "driver")
        both = sum(1 for sides in sources.values() if len(sides) == 2)
        kinds = collections.Counter(kind_of(src) for _, src in comps)
        by_skeleton = collections.defaultdict(set)
        for src in sources:
            by_skeleton[STAGE_ID.sub("<stage>", src)].add(src)
        id_only = [g for g in by_skeleton.values() if len(g) > 1]
        new = [src for src in sources if src not in seen]
        label = "cold" if number == 0 else "timed"
        print("pass %d (%s)" % (number, label), file=out)
        print("  compilations        %d" % len(comps), file=out)
        print("  lines compiled      %d" % sum(
            src.count("\n") + 1 for _, src in comps), file=out)
        print("  distinct sources    %d" % len(sources), file=out)
        print("  driver and task     %d" % both, file=out)
        print("  by kind             " + ", ".join(
            "%s %d" % (k, kinds[k]) for k in
            ("whole-stage", "projection", "predicate", "ordering", "other")),
            file=out)
        print("  stage-id-only groups %d (%d sources)" % (
            len(id_only), sum(len(g) for g in id_only)), file=out)
        if number > 0:
            print("  not in earlier passes %d" % len(new), file=out)
            for src in new[:show]:
                near = nearest(src, seen)
                diff = first_difference(src, near) if near else None
                what = ("%s: %s  (was: %s)" % (kind_of(src), diff[0], diff[1])
                        if diff else "%s: no earlier source of its kind"
                        % kind_of(src))
                print("    " + what[:200], file=out)
        seen.update(sources)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", nargs="?", default=".bench_build/last-run.log",
                    help="benchmark log made under "
                         "tools/codegen-debug.log4j2.properties")
    ap.add_argument("--show", type=int, default=10,
                    help="sources listed per pass as new (default 10)")
    args = ap.parse_args()
    passes = read_passes(args.log)
    if not any(comps for _, comps in passes):
        sys.exit("no CodeGenerator DEBUG records in %s: was the run made "
                 "under tools/codegen-debug.log4j2.properties?" % args.log)
    report(passes, args.show, sys.stdout)


if __name__ == "__main__":
    main()
