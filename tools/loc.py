#!/usr/bin/env python3
"""Non-blank code and comment line counts of src/main.

Usage: python3 tools/loc.py [git-rev]

Prints one row per source file under src/main (working tree) with its
non-blank code lines, comment lines and their total, then the totals.
With a git revision, also prints the same totals at that revision and
the working tree's difference against it, plus the per-file
differences of every file that changed.

A line is a comment line when it holds nothing but comment text: a
`//` line, or a line inside or opening a `/* ... */` block (scaladoc
included). A line with code followed by a trailing comment counts as
code. Files without a known comment syntax count every non-blank line
as code.
"""
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = "src/main"
COMMENTED = (".scala", ".java")


def classify(text, commented=True):
    """(code, comment) non-blank line counts of one file's text."""
    code = comment = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if not line:
            continue
        if not commented:
            code += 1
            continue
        if in_block:
            comment += 1
            end = line.find("*/")
            if end >= 0:
                in_block = False
                rest = line[end + 2:].strip()
                if rest and not rest.startswith("//"):
                    comment -= 1
                    code += 1
            continue
        if line.startswith("//"):
            comment += 1
        elif line.startswith("/*"):
            comment += 1
            if line.find("*/", 2) < 0:
                in_block = True
        else:
            code += 1
            # a block opened after code on the same line (rare)
            start = line.find("/*")
            if start >= 0 and '"' not in line[:start] and line.find("*/", start + 2) < 0:
                in_block = True
    return code, comment


def tree_files():
    """{relative path: text} for the working tree's src/main."""
    out = {}
    for p in sorted((ROOT / SRC).rglob("*")):
        if p.is_file():
            out[str(p.relative_to(ROOT))] = p.read_text(encoding="utf-8", errors="replace")
    return out


def rev_files(rev):
    """{relative path: text} for src/main at git revision `rev`."""
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", SRC],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout.split()
    out = {}
    for name in names:
        blob = subprocess.run(["git", "show", f"{rev}:{name}"], cwd=ROOT,
                              capture_output=True, check=True).stdout
        out[name] = blob.decode("utf-8", errors="replace")
    return out


def counts(files):
    return {name: classify(text, name.endswith(COMMENTED))
            for name, text in files.items()}


def total(per_file):
    code = sum(c for c, _ in per_file.values())
    comment = sum(m for _, m in per_file.values())
    return code, comment


def row(label, code, comment, signed=False):
    fmt = "{:+9,d}" if signed else "{:9,d}"
    cells = [fmt.format(v) for v in (code, comment, code + comment)]
    return f"{cells[0]} {cells[1]} {cells[2]}  {label}"


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else None
    now = counts(tree_files())
    print(f"{'code':>9} {'comment':>9} {'total':>9}  file")
    for name, (code, comment) in now.items():
        print(row(name, code, comment))
    print(row(f"{SRC} (working tree)", *total(now)))
    if rev is None:
        return
    then = counts(rev_files(rev))
    print(row(f"{SRC} at {rev}", *total(then)))
    print()
    print("difference against", rev)
    for name in sorted(set(now) | set(then)):
        a = then.get(name, (0, 0))
        b = now.get(name, (0, 0))
        if a != b:
            print(row(name, b[0] - a[0], b[1] - a[1], signed=True))
    (c1, m1), (c0, m0) = total(now), total(then)
    print(row(f"{SRC} net", c1 - c0, m1 - m0, signed=True))


if __name__ == "__main__":
    main()
