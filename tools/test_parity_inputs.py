"""The committed parity resource is parity_diff.py's seed-8 case set.

ParityRunSpec pins the Scala sweep's outcomes over
src/test/resources/parity/seed8_inputs.jsonl.gz; this test pins that the
file is still exactly what `gen_cases(5000, 8)` writes, one JSON case per
line as parity_diff.py writes them, so the two halves cannot drift apart.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import gzip
import json
import pathlib
import unittest

import parity_diff

RESOURCE = (pathlib.Path(__file__).resolve().parent.parent
            / "src/test/resources/parity/seed8_inputs.jsonl.gz")


class ParityInputsTest(unittest.TestCase):

    def test_resource_is_the_seed_8_case_set(self):
        want = "".join(json.dumps(c) + "\n"
                       for c in parity_diff.gen_cases(5000, 8))
        got = gzip.decompress(RESOURCE.read_bytes()).decode("utf-8")
        self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
