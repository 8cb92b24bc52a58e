"""The input generators: determinism and closed-form expectations."""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class FhirLandingTest(unittest.TestCase):
    def landing(self, workload, seed, scale=0.05):
        root = tempfile.mkdtemp(prefix="perfbench-gen-")
        expect = gen.fhir_landing(root, workload, seed, scale)
        return root, expect

    def test_same_seed_same_bytes(self):
        for workload in gen.FHIR_SPECS:
            a, _ = self.landing(workload, 7)
            b, _ = self.landing(workload, 7)
            c, _ = self.landing(workload, 8)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_tiny_zone_matches_closed_form(self):
        """Re-derive every expectation from the written files alone."""
        root, expect = self.landing("fhir_bulk", 3, scale=0.1)
        dim = set()
        with open(os.path.join(root, "rxnorm.tsv")) as f:
            dim = {line.split("\t")[0] for line in f}
        for name, facts in expect["resources"].items():
            files = [p for p in os.listdir(os.path.join(root, "landing"))
                     if p.startswith(name + "-")]
            lines, corrupt, kept, size = 0, 0, 0, 0
            for p in files:
                with open(os.path.join(root, "landing", p), "rb") as f:
                    data = f.read()
                size += len(data)
                for line in data.decode().splitlines():
                    lines += 1
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        corrupt += 1
                        continue
                    if name == "ExplanationOfBenefit":
                        items = rec["item"]
                        codes = [c["code"] for it in items
                                 for c in it["productOrService"]["coding"]]
                        kept += (rec["patient"]["reference"] == gen.BCDA_PATIENT
                                 and rec["type"]["coding"][-1]["code"] == "pharmacy"
                                 and items[-1]["servicedDate"] >= gen.KEEP_FROM_DATE
                                 and all(c in dim for c in codes))
            self.assertEqual(len(files), facts["files"])
            self.assertEqual(lines, facts["lines"])
            self.assertEqual(size, facts["bytes"])
            self.assertEqual(corrupt, facts["corrupt"])
            self.assertGreater(corrupt, 0)
            want = kept if name == "ExplanationOfBenefit" else lines - corrupt
            self.assertEqual(want, facts["rows_out"])

    def test_many_files_shape(self):
        _, expect = self.landing("fhir_many_files", 1, scale=0.2)
        self.assertIn("epic", expect["server_url"])
        self.assertEqual(set(expect["resources"]), {"Patient", "Condition", "MedicationRequest"})
        for facts in expect["resources"].values():
            self.assertEqual(facts["files"], 80)


class StarCorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, b, c = (tempfile.mkdtemp(prefix="perfbench-star-") for _ in range(3))
        gen.star_corpus(a, 5, sf=0.001)
        gen.star_corpus(b, 5, sf=0.001)
        gen.star_corpus(c, 6, sf=0.001)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))
        self.assertEqual(len(os.listdir(a)), 10)


if __name__ == "__main__":
    unittest.main()
