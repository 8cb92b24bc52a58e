"""Seeded input generators for the benchmark.

Two kinds of input, both written under a directory the caller names:

* a FHIR Bulk Data landing zone (`<Type>-<client>-NNNN.json` NDJSON files,
  the file naming `BulkPipeline.runLocalFlow` globs), an NDC -> RxNorm dim
  and the closed-form expectations the output checks compare against;
* a star-schema corpus (the ten parquet tables the registry queries read),
  one file and one row group per table, like the repo's test corpora.

The same seed gives the same bytes. Nothing here talks to Spark.
"""
import json
import os
import random
import shutil

# Constants of the BCDA ExplanationOfBenefit transform (graft.transform.FhirTransforms).
BCDA_PATIENT = "Patient/-10000000000027"
EPIC_PATIENT = "egqBHVfQlt4Bw3XGXoxVxHg3"
NDC_SYSTEM = "http://hl7.org/fhir/sid/ndc"
RXNORM_SYSTEM = "http://www.nlm.nih.gov/research/umls/rxnorm"
CLAIM_TYPE_SYSTEM = "http://terminology.hl7.org/CodeSystem/claim-type"
KEEP_FROM_DATE = "2019-10-30"

# The two FHIR landing-zone shapes. `files` and `lines` are per resource type.
FHIR_SPECS = {
    # BCDA-style: a few large files, mostly EOB, ~1% corrupt lines, NDC codes
    # drawn with skew from the dim plus a planted share of lookup misses.
    "fhir_bulk": {
        "server_url": "https://sandbox.bcda.cms.gov/api/v2",
        "resources": {"ExplanationOfBenefit": (4, 10000), "Patient": (4, 2500)},
        "corrupt_rate": 0.01, "n_ndc": 400, "ndc_skew": 3.0, "miss_rate": 0.05,
    },
    # Epic-style: small total volume over many small files per type.
    "fhir_many_files": {
        "server_url": "https://fhir.epic.com/interconnect-fhir-oauth/api/FHIR/R4",
        "resources": {"Patient": (80, 1000), "Condition": (80, 1000),
                      "MedicationRequest": (80, 1000)},
        "corrupt_rate": 0.01, "n_ndc": 0, "ndc_skew": 0.0, "miss_rate": 0.0,
    },
}


def _rx_dim(n):
    """NDC -> (name, rxnorm); names are never empty, so a hit always fills."""
    return [(f"{10000000000 + 7919 * i:011d}", f"drug-{i}", str(100000 + i))
            for i in range(n)]


def _eob(rng, i, dim, spec):
    """One EOB record in FhirVolumeSpec's shape, and whether the transform keeps it."""
    r = rng.random()
    patient = "Patient/other" if r < 0.15 else BCDA_PATIENT
    claim = "medical" if rng.random() < 0.15 else "pharmacy"
    n_items = 1 + (rng.random() < 0.3)
    items, miss = [], False
    for k in range(n_items):
        last = k == n_items - 1
        date = ("2019-01-01" if rng.random() < 0.2 else "2019-12-01") if last else "2018-06-01"
        if rng.random() < spec["miss_rate"]:
            code, display = f"99{rng.randrange(10 ** 9):09d}", "unknown"
            miss = True
        else:
            idx = min(len(dim) - 1, int(len(dim) * rng.random() ** spec["ndc_skew"]))
            code = dim[idx][0]
            display = None if rng.random() < 0.5 else "D"
        coding = {"system": NDC_SYSTEM, "code": code}
        if display is not None:
            coding["display"] = display
        items.append({"servicedDate": date,
                      "productOrService": {"coding": [coding]},
                      "quantity": {"value": 1.0, "unit": "u"}})
    kept = (patient == BCDA_PATIENT and claim == "pharmacy"
            and items[-1]["servicedDate"] >= KEEP_FROM_DATE and not miss)
    rec = {"resourceType": "ExplanationOfBenefit", "id": f"eob-{i}",
           "meta": {"versionId": "1"}, "patient": {"reference": patient},
           "type": {"coding": [{"system": CLAIM_TYPE_SYSTEM, "code": claim}]},
           "supportingInfo": [{"valueQuantity": {"value": 1.0}},
                              {"valueQuantity": {"value": 2.0}}],
           "item": items}
    return rec, kept


def _patient(rng, i, demo_id):
    pid = demo_id if i == 0 and demo_id else f"pat-{i}"
    return {"resourceType": "Patient", "id": pid,
            "meta": {"versionId": "1", "lastUpdated": "2019-09-04T00:00:00Z"},
            "identifier": [{"system": "urn:mrn", "value": f"mrn{rng.randrange(10 ** 8)}"}]}


def _condition(rng, i):
    return {"resourceType": "Condition", "id": f"cond-{i}",
            "code": {"coding": [{"system": "http://snomed.info/sct",
                                 "code": str(rng.randrange(10 ** 6)), "display": "x"}],
                     "text": "x"},
            "recordedDate": "2019-0%d-1%d" % (1 + rng.randrange(9), rng.randrange(10))}


def _medication_request(rng, i):
    return {"resourceType": "MedicationRequest", "id": f"mr-{i}",
            "medicationReference": {"reference": f"Medication/{rng.randrange(1000)}"},
            "authoredOn": "2019-01-01",
            "dispenseRequest": {"validityPeriod": {"start": "2019-01-01", "end": "2019-02-01"},
                                "numberOfRepeatsAllowed": 1,
                                "quantity": {"value": 5.0, "unit": "ml",
                                             "system": "urn:ucum", "code": "ml"}}}


def fhir_landing(root, workload, seed, scale=1.0):
    """Write `root/landing/*`, `root/rxnorm.tsv` and `root/expect.json`.

    `scale` multiplies every line count (tests use a tiny one). Returns the
    expectations: per resource the files, lines, bytes, corrupt lines and the
    rows the promoted output must hold.
    """
    spec = FHIR_SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    landing = os.path.join(root, "landing")
    shutil.rmtree(landing, ignore_errors=True)
    os.makedirs(landing)
    dim = _rx_dim(spec["n_ndc"])
    with open(os.path.join(root, "rxnorm.tsv"), "w") as f:
        f.writelines(f"{n}\t{name}\t{rx}\n" for n, name, rx in dim)
    expect = {"workload": workload, "seed": seed, "server_url": spec["server_url"],
              "resources": {}}
    for name, (files, lines) in spec["resources"].items():
        lines = max(files, int(lines * scale))
        facts = {"files": files, "lines": lines, "bytes": 0, "corrupt": 0, "kept": 0}
        i = 0
        for fno in range(files):
            n = lines // files + (fno < lines % files)
            out = []
            for _ in range(n):
                kept = False
                if name == "ExplanationOfBenefit":
                    rec, kept = _eob(rng, i, dim, spec)
                elif name == "Patient":
                    rec = _patient(rng, i, EPIC_PATIENT if "epic" in spec["server_url"] else "")
                elif name == "Condition":
                    rec = _condition(rng, i)
                else:
                    rec = _medication_request(rng, i)
                line = json.dumps(rec, separators=(",", ":"))
                if rng.random() < spec["corrupt_rate"]:
                    # An unclosed object never parses, wherever it is cut.
                    line = line[:rng.randrange(10, len(line) - 1)]
                    facts["corrupt"] += 1
                else:
                    facts["kept"] += kept
                out.append(line)
                i += 1
            data = ("\n".join(out) + "\n").encode()
            facts["bytes"] += len(data)
            with open(os.path.join(landing, f"{name}-client-{fno:04d}.json"), "wb") as f:
                f.write(data)
        good = facts["lines"] - facts["corrupt"]
        facts["rows_out"] = facts["kept"] if name == "ExplanationOfBenefit" else good
        del facts["kept"]
        expect["resources"][name] = facts
    with open(os.path.join(root, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


# ---------------------------------------------------------------- star corpus

WORDS = ("batch part spark line column order small sort fast value scan hash slow "
         "group agg filter query a big key window row table stream merge data "
         "vector join index tree page cache shard node edge graph rank").split()


def star_corpus(root, seed, sf=0.1):
    """Write the ten registry tables as `root/<table>.parquet` (one row group each).

    Row counts follow the repo's corpora: at sf=0.1, 600k lineitem, 150k
    orders, 15k customers, 100k events, 5k documents, 2k embeddings.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"),
                       row_group_size=1 << 30)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    def day_ts(lo_days, span_days, n):
        base = np.datetime64("1970-01-01", "us")
        days = rng.integers(lo_days, lo_days + span_days, n).astype("timedelta64[D]")
        return pa.array(base + days, type=pa.timestamp("us"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "red", "green", "hot", "cold", "small", "large", "plain"]
    noun = ["anvil", "widget", "ring", "bolt", "gear", "cog", "pin", "cap"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": money(900, 450000, n_ord),
        "o_orderdate": day_ts(8035, 2405, n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": day_ts(8035, 2526, n_line)})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, n_ev // 50), n_ev).astype(np.int64),
        "event_type": pick(["view", "click", "purchase", "idle", "error"], n_ev),
        "value": money(0, 1000, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Documents: 60-token texts; every 20th is a near-copy of its predecessor
    # (one token changed) so the dedup family has work to find.
    toks = pick(WORDS, n_doc * 60).reshape(n_doc, 60)
    for d in range(20, n_doc, 20):
        toks[d] = toks[d - 1]
        toks[d, d % 60] = "zzq"
    texts = [" ".join(t) for t in toks]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": pick(["en", "de", "fr", "es", "zh"], n_doc),
        "source": [f"src{i % 3}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    emb[n_emb // 2:n_emb // 2 + 5] = emb[:5] + rng.normal(0, 0.001, (5, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": (np.arange(n_emb) % 8).astype(np.int32)})
