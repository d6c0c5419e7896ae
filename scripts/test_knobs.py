"""Every SPARK_GRAFT_* environment variable the library reads is listed
in README's "Knobs" list, and the list names nothing else.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sys.env("X"), sys.env.get("X"), sys.env.getOrElse("X", ..), System.getenv("X")
READ = re.compile(r'(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"(SPARK_GRAFT_\w+)"')
LISTED = re.compile(r'^- `(SPARK_GRAFT_\w+)`')


def read_knobs(src):
    """The SPARK_GRAFT_* names read from the environment under `src`."""
    names = set()
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    names.update(READ.findall(fh.read()))
    return names


def listed_knobs(readme):
    """The names README's "Knobs" list gives, one `- `NAME` ...` line each;
    the list runs from its "Knobs" line to the next blank line."""
    with open(readme, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith("Knobs"))
    names = set()
    for line in lines[start + 1:]:
        if not line.strip():
            break
        m = LISTED.match(line)
        if m:
            names.add(m.group(1))
    return names


class KnobsTest(unittest.TestCase):

    def test_readme_lists_every_knob_read(self):
        read = read_knobs(os.path.join(ROOT, "src", "main"))
        listed = listed_knobs(os.path.join(ROOT, "README.md"))
        self.assertTrue(read, "no SPARK_GRAFT_* read found under src/main")
        self.assertEqual(read - listed, set(), "read but not listed")
        self.assertEqual(listed - read, set(), "listed but not read")


if __name__ == "__main__":
    unittest.main()
