#!/usr/bin/env python3
"""List the public operators that nothing but their own file and the specs call.

Usage: python3 scripts/callers.py [repo_root]

A public operator is a `def` declared at member depth (two-space indent)
of an object in `graft/llm`, `graft/functions` or `graft/streaming`
without a `private`/`protected` modifier. It has a caller when its name
appears, outside comments, in another file under `src/main`, `bench/`
or `scripts/` (this file excepted). `src/test` is not searched: a spec
is not a caller.

Each caller-less def is printed as `<dir>/<File>.scala:<line> <name>`;
one named in the README "Using" block (the library's front door) is
marked `# kept: README`. Every other one is a candidate: delete it, or,
when a spec leans on it as the reference, seam or fixture for live code,
narrow it to `private[graft]` (which this listing skips). The last line
counts both kinds per directory.
"""
import os
import re
import sys

ROOT = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                       os.path.join(os.path.dirname(__file__), ".."))
PKG = os.path.join(ROOT, "src", "main", "scala", "graft")
DIRS = ("llm", "functions", "streaming")
SEARCH = (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "bench"),
          os.path.join(ROOT, "scripts"))

DEF = re.compile(r"^  ((?:(?:override|final|implicit|private(?:\[\w+\])?|"
                 r"protected(?:\[\w+\])?)\s+)*)def\s+([A-Za-z_]\w*)")


def strip_comments(text):
    """Scala/Python source without its comments (string bodies kept)."""
    text = re.sub(r"/\*.*?\*/", " ", text, flags=re.S)
    return re.sub(r"(//|#).*", "", text)


def readme_using():
    path = os.path.join(ROOT, "README.md")
    if not os.path.exists(path):
        return ""
    m = re.search(r"^## Using\n(.*?)^## ", open(path).read(), re.S | re.M)
    return m.group(1) if m else ""


def corpus():
    out = {}
    for base in SEARCH:
        for dirpath, _, files in os.walk(base):
            for f in files:
                if f.endswith((".scala", ".py", ".sh")) and \
                        f != os.path.basename(__file__):
                    p = os.path.join(dirpath, f)
                    out[p] = strip_comments(open(p).read())
    return out


def main():
    texts = corpus()
    using = readme_using()
    counts = {d: [0, 0] for d in DIRS}
    for d in DIRS:
        for f in sorted(os.listdir(os.path.join(PKG, d))):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(PKG, d, f)
            for no, line in enumerate(open(path), 1):
                m = DEF.match(line)
                if not m or re.search(r"private|protected", m.group(1)):
                    continue
                name = m.group(2)
                word = re.compile(r"\b%s\b" % re.escape(name))
                if any(word.search(t) for p, t in texts.items()
                       if p != path):
                    continue
                why = "README" if word.search(using) else ""
                counts[d][0 if why else 1] += 1
                print(f"{d}/{f}:{no} {name}" + (f"  # kept: {why}"
                                                  if why else ""))
    print("; ".join(f"{d}: {k} kept, {c} candidates"
                    for d, (k, c) in counts.items()))


if __name__ == "__main__":
    main()
