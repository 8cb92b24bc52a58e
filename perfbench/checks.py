"""Output checks, run after the JVM exits (outside every timed window).

Each check returns a list of problems; an empty list means the output is right.
"""
import glob
import json
import os
import re
import subprocess
import sys

from gen import NDC_SYSTEM, RXNORM_SYSTEM


def fhir(root, expect, res, digest_file):
    """The promoted output of the last flow against the generator's closed forms.

    Returns (problems, failed_ops, facts) where failed_ops counts flows whose
    quarantine count or output was wrong.
    """
    problems, failed = [], 0
    want_corrupt = {k: v["corrupt"] for k, v in expect["resources"].items()}
    for i, got in enumerate(res["corrupt"]):
        if got != want_corrupt:
            problems.append(f"flow {i}: corrupt counts {got} != {want_corrupt}")
            failed += 1
    promoted = os.path.join(root, "promoted")
    dim = {}
    with open(os.path.join(root, "rxnorm.tsv")) as f:
        for line in f:
            ndc, _, rx = line.rstrip("\n").split("\t")
            dim[ndc] = rx
    parts = []
    output_ok = True
    for name, facts in expect["resources"].items():
        files = sorted(glob.glob(os.path.join(promoted, name, "part-*")))
        parts += files
        rows = 0
        for path in files:
            with open(path) as f:
                for line in f:
                    rows += 1
                    if name == "ExplanationOfBenefit" and not _has_rxnorm(json.loads(line), dim):
                        problems.append(f"{name}: survivor without its RxNorm coding: {line[:120]}")
                        output_ok = False
        if rows != facts["rows_out"]:
            problems.append(f"{name}: {rows} promoted rows, expected {facts['rows_out']}")
            output_ok = False
    entries = json.loads(res["manifest"])["input"]
    if len(entries) != len(parts):
        problems.append(f"manifest has {len(entries)} entries for {len(parts)} part files")
        output_ok = False
    if res["digest_cold"] != res["digest_last"]:
        problems.append(f"promoted digest changed between flows: "
                        f"{res['digest_cold']} -> {res['digest_last']}")
        output_ok = False
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            before = f.read().strip()
        if before != res["digest_last"]:
            problems.append(f"promoted digest {res['digest_last']} differs from an earlier "
                            f"run with the same seed ({before})")
            output_ok = False
    elif output_ok:
        os.makedirs(os.path.dirname(digest_file), exist_ok=True)
        with open(digest_file, "w") as f:
            f.write(res["digest_last"])
    failed += not output_ok
    return problems, failed, {"manifest_entries": len(entries), "files_out": len(parts)}


def _has_rxnorm(rec, dim):
    """Every NDC coding of a survivor is followed by its appended RxNorm coding."""
    for item in rec.get("item") or []:
        codings = item["productOrService"]["coding"]
        ndcs = [c["code"] for c in codings if c.get("system") == NDC_SYSTEM]
        rx = [c.get("code") for c in codings if c.get("system") == RXNORM_SYSTEM]
        if rx != [dim.get(n) for n in ndcs]:
            return False
    return True


_LINE = re.compile(r"^\[(ok|FAIL|MISS|ORACLE-ERR)\]\s+(\S+)")


def registry(checkout, corpus, verify_out, mix):
    """DuckDB-oracle comparison of the dumped mix results (tools/selfcheck.py).

    Returns (problems, failing query names).
    """
    p = subprocess.run([sys.executable, os.path.join(checkout, "tools", "selfcheck.py"),
                        corpus, verify_out] + list(mix),
                       capture_output=True, text=True, timeout=150)
    status = {}
    for line in p.stdout.splitlines():
        m = _LINE.match(line)
        if m:
            status[m.group(2).rstrip(":")] = m.group(1)
    bad = sorted(q for q in mix if status.get(q) != "ok")
    problems = [f"{q}: {status.get(q, 'not checked')}" for q in bad]
    if p.returncode not in (0, 1):
        problems.append(f"selfcheck exited {p.returncode}: {p.stderr.strip()[-300:]}")
    return problems, set(bad)
