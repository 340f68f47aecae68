#!/usr/bin/env python3
"""Print the size of the engine's main code and the graft.* conf keys it reads.

    python3 tools/size_report.py [REPO_ROOT]

Lines are counted as `find src/main -name '*.scala' | xargs cat | wc -l`
counts them (newline characters). A conf key counts when a main source
passes it as a string literal to `.get`, `.getOption` or `.getConfString`
(whitespace and line breaks between the call and the literal allowed), which
is how the engine reads `spark.conf`. Stdlib only.
"""
import os
import re
import sys

KEY_READ = re.compile(
    r'\.(?:get|getOption|getConfString)\s*\(\s*"(graft\.[A-Za-z0-9_.]+)"')


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir)
    main_dir = os.path.join(root, "src", "main")
    lines = files = 0
    keys = set()
    for dirpath, _, names in os.walk(main_dir):
        for name in names:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(dirpath, name), "rb") as fh:
                data = fh.read()
            files += 1
            lines += data.count(b"\n")
            keys.update(KEY_READ.findall(data.decode("utf-8", "replace")))
    print(f"main scala: {lines:,} lines in {files} files")
    print(f"graft.* conf keys read by main code: {len(keys)}")
    for k in sorted(keys):
        print(f"  {k}")


if __name__ == "__main__":
    main()
