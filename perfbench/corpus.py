"""Seeded input generators for the benchmark.

Everything the program under test reads is produced here from a seed, so
the same seed gives byte-identical inputs:

- SARIF scan drops (``ingest_batch``);
- a landing table of OCSF findings and OCSF ``.ocsf.json`` array files for
  the file monitor, which together become the staged table the
  ``analytics_panel`` findings queries read;
- TPC-H-ish star-schema tables plus the events / documents / embeddings
  tables the ``__spark_entry__`` CORE15 queries read (``analytics_panel``,
  which passes a fixed seed).

Each generator also returns what the output checks compare against
(expected counts per severity and tool, distinct UIDs, good and bad file
names).

Input properties the program's behaviour depends on are drawn from fixed
ranges (``PROPERTY_RANGES``) per drop, per load or per tool catalog rather
than once per run, so every run sees a similar spread of each property:
the inputs vary while the run-to-run spread of the timings stays small.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# property -> (low, high, why it is varied)
PROPERTY_RANGES: dict[str, tuple[float, float, str]] = {
    "fingerprint_share": (
        0.3,
        0.9,
        "results with fingerprints take the fingerprint UID path, the rest "
        "the sha256(title, file, desc) hash path of FindingUIDGenerator",
    ),
    "multi_cwe_share": (
        0.1,
        0.4,
        "rules with a CWE list go through the converter's from_json/array_join "
        "branch and give multi-valued finding_cwes",
    ),
    "rescan_share": (
        0.1,
        0.4,
        "re-scanned findings repeat an earlier finding_uid; append-only "
        "landing keeps every copy, which the re-scan ratio query measures",
    ),
    "malformed_share": (
        0.03,
        0.08,
        "malformed or uid-less monitor files take the quarantine path "
        "(anti-join exclusion plus a move to failed/)",
    ),
    "results_per_run": (
        0.4,
        1.6,
        "results per SARIF run, as a multiple of the mean: uneven runs give "
        "the converter's repartition barrier skewed input splits",
    ),
    "rules_per_run": (
        8,
        40,
        "rules per SARIF run size the broadcast rule-lookup side",
    ),
}

TOOLS = ("CodeQL", "Semgrep OSS", "Bandit", "gosec", "SpotBugs", "Snyk Code")
LEVELS = ("error", "warning", "note", "none", None)
LEVEL_WEIGHTS = (3, 4, 2, 1, 1)
# converter contract (plans.convert._severity_name): level -> severity
SEVERITY_OF_LEVEL = {
    "error": "High",
    "warning": "Medium",
    "note": "Informational",
    "none": "Unknown",
    None: "Unknown",
}
CWES = tuple(f"CWE-{n}" for n in (20, 22, 78, 79, 89, 94, 200, 287, 295, 352,
                                  400, 434, 502, 611, 798, 918))
WORDS = (
    "input", "query", "path", "user", "token", "buffer", "request", "value",
    "handler", "session", "config", "secret", "stream", "parser", "file",
    "header", "cookie", "template", "command", "socket",
)


def _uniform(rng: random.Random, name: str) -> float:
    lo, hi, _ = PROPERTY_RANGES[name]
    return rng.uniform(lo, hi)


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _count(counts: dict, key: str) -> None:
    counts[key] = counts.get(key, 0) + 1


def _write_json(path: str, obj) -> None:
    # json.dumps encodes in C; json.dump to a file takes the slower
    # pure-Python path
    with open(path, "w") as f:
        f.write(json.dumps(obj, separators=(",", ":")))


class SarifCorpus:
    """A fixed sequence of scan drops; drop ``d`` is ``files_per_drop``
    SARIF files holding ``findings_per_drop`` results in total.

    Each tool has one rule catalog for the whole corpus, so a re-scanned
    result (same tool, rule, location, message and fingerprints as an
    earlier one) gets the same finding_uid in a later drop.
    """

    def __init__(self, seed: int, files_per_drop: int, findings_per_drop: int):
        self.rng = random.Random(seed)
        self.files_per_drop = files_per_drop
        self.findings_per_drop = findings_per_drop
        self.catalogs = {t: self._catalog(t) for t in TOOLS}
        self.pool: dict[str, list[dict]] = {t: [] for t in TOOLS}
        self.serial = 0

    def _catalog(self, tool: str) -> list[dict]:
        rng = self.rng
        multi = _uniform(rng, "multi_cwe_share")
        rules = []
        for i in range(int(_uniform(rng, "rules_per_run"))):
            rule = {
                "id": f"{tool[:3].upper()}-{i:03d}",
                "shortDescription": {"text": _sentence(rng, 2, 5)},
            }
            if rng.random() < multi:
                rule["properties"] = {"cwe": rng.sample(CWES, rng.randint(2, 3))}
            elif rng.random() < 0.9:
                rule["properties"] = {"cwe": rng.choice(CWES)}
            rules.append(rule)
        return rules

    def _fresh_result(self, tool: str, fp_share: float) -> dict:
        rng = self.rng
        self.serial += 1
        rule = rng.choice(self.catalogs[tool])
        level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
        res = {
            "ruleId": rule["id"],
            "message": {"text": f"{_sentence(rng, 4, 24)} #{self.serial}"},
            "locations": [
                {
                    "physicalLocation": {
                        "artifactLocation": {
                            "uri": f"src/{rng.choice(WORDS)}/{rng.choice(WORDS)}_{rng.randint(0, 999)}.py"
                        },
                        "region": {
                            "startLine": rng.randint(1, 4000),
                            "endLine": rng.randint(4001, 4100),
                        },
                    }
                }
            ],
        }
        if level is not None:
            res["level"] = level
        if rng.random() < fp_share:
            key = "fingerprints" if rng.random() < 0.7 else "partialFingerprints"
            res[key] = {
                "primaryLocationLineHash/v1": f"{rng.getrandbits(64):016x}",
                "stable/v2": f"fp-{self.serial}-{rng.getrandbits(32):08x}",
            }
        return res

    def write_drop(self, drop: int, out_dir: str) -> dict:
        """Write drop ``drop``'s SARIF files into ``out_dir``; return the
        expectations for it."""
        rng = self.rng
        os.makedirs(out_dir, exist_ok=True)
        fp_share = _uniform(rng, "fingerprint_share")
        rescan = _uniform(rng, "rescan_share") if drop > 0 else 0.0
        weights = [_uniform(rng, "results_per_run") for _ in range(self.files_per_drop)]
        total_w = sum(weights)
        counts = [int(self.findings_per_drop * w / total_w) for w in weights]
        counts[-1] += self.findings_per_drop - sum(counts)
        expect = {"findings": 0, "new_uids": 0, "severity": {}, "tool": {}, "files": []}
        for i, n in enumerate(counts):
            tool = TOOLS[(drop * self.files_per_drop + i) % len(TOOLS)]
            results = []
            fresh = []
            for _ in range(n):
                pool = self.pool[tool]
                if pool and rng.random() < rescan:
                    results.append(rng.choice(pool))
                else:
                    r = self._fresh_result(tool, fp_share)
                    results.append(r)
                    fresh.append(r)
            self.pool[tool].extend(fresh)
            for r in results:
                _count(expect["severity"], SEVERITY_OF_LEVEL[r.get("level")])
            expect["tool"][tool] = expect["tool"].get(tool, 0) + n
            expect["findings"] += n
            expect["new_uids"] += len(fresh)
            doc = {
                "version": "2.1.0",
                "runs": [
                    {
                        "tool": {"driver": {"name": tool, "semanticVersion": "1.0.0",
                                            "rules": self.catalogs[tool]}},
                        "invocations": [{"startTimeUtc": "2024-03-15T10:30:00Z"}],
                        "automationDetails": {"id": f"scan/{drop}/{i}"},
                        "results": results,
                    }
                ],
            }
            path = os.path.join(out_dir, f"drop{drop:03d}_{i:02d}.sarif")
            _write_json(path, doc)
            expect["files"].append(path)
        return expect


def _ocsf_finding(rng: random.Random, uid: str, multi_cwe: float) -> dict:
    """One OCSF class-2007 finding as the converter would emit it."""
    cwes = rng.sample(CWES, rng.randint(2, 3)) if rng.random() < multi_cwe else [rng.choice(CWES)]
    return {
        "class_uid": 2007,
        "activity_id": 2,
        "time": 1710500000000,
        "severity": SEVERITY_OF_LEVEL[rng.choices(LEVELS, LEVEL_WEIGHTS)[0]],
        "status": "New",
        "metadata": {"product": {"name": rng.choice(TOOLS), "version": "1.0"},
                     "version": "1.5.0"},
        "finding_info": {
            "uid": uid,
            "title": _sentence(rng, 2, 6),
            "desc": _sentence(rng, 4, 20),
            "created_time": 1710500000000,
        },
        "vulnerabilities": [{"cwe": {"uid": c}} for c in cwes],
    }


def ocsf_monitor_files(seed: int, n_files: int, findings_per_file: int,
                       out_dir: str) -> dict:
    """Write ``n_files`` OCSF array files into ``out_dir``.

    A seeded share of files is bad, alternately not valid JSON or holding
    one finding without ``finding_info.uid``. Returns the file names, which are
    bad, each good file's UIDs and the good findings' severity counts."""
    rng = random.Random(seed ^ 0x5EED)
    os.makedirs(out_dir, exist_ok=True)
    # at least two bad files, so both quarantine paths run every time
    n_bad = max(2, round(_uniform(rng, "malformed_share") * n_files))
    bad_at = rng.sample(range(n_files), n_bad)
    multi = _uniform(rng, "multi_cwe_share")
    names, bad, uids, severity = [], set(), {}, {}
    for i in range(n_files):
        name = f"m{i:05d}.ocsf.json"
        path = os.path.join(out_dir, name)
        findings = [_ocsf_finding(rng, f"boann:sast:bench:hash:m{seed:x}-{i}-{j}", multi)
                    for j in range(findings_per_file)]
        if i in bad_at:
            bad.add(name)
            if bad_at.index(i) % 2:  # not valid JSON
                data = json.dumps(findings)[: -rng.randint(5, 50)]
            else:  # one finding without finding_info.uid
                del findings[rng.randrange(len(findings))]["finding_info"]["uid"]
                data = json.dumps(findings)
            with open(path, "w") as f:
                f.write(data)
        else:
            uids[name] = [f["finding_info"]["uid"] for f in findings]
            for f in findings:
                _count(severity, f["severity"])
            _write_json(path, findings)
        names.append(name)
    return {"names": names, "bad": bad, "uids": uids, "severity": severity,
            "findings": sum(severity.values())}


def landing_table(seed: int, n_findings: int, n_loads: int, path: str) -> dict:
    """Write a landing table (the layout plans.landing.land writes) holding
    ``n_findings`` OCSF findings over ``n_loads`` loads an hour apart; a
    seeded share of each load re-scans earlier findings (same finding_uid,
    later loaded_at). Returns the expectations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed ^ 0x1A2D)
    pool: list[dict] = []
    uids, docs, loaded, severity = [], [], [], {}
    base = dt.datetime(2024, 3, 15, 10, tzinfo=dt.timezone.utc)
    for load in range(n_loads):
        rescan = _uniform(rng, "rescan_share")
        multi = _uniform(rng, "multi_cwe_share")
        for j in range(n_findings // n_loads):
            if pool and rng.random() < rescan:
                f = rng.choice(pool)
            else:
                f = _ocsf_finding(rng, f"boann:sast:bench:hash:l{seed:x}-{load}-{j}", multi)
                pool.append(f)
            uids.append(f["finding_info"]["uid"])
            docs.append(json.dumps(f, separators=(",", ":")))
            loaded.append(base + dt.timedelta(hours=load))
            _count(severity, f["severity"])
    table = pa.table({
        "finding_uid": uids,
        "raw_ocsf_json": docs,
        "loaded_at": pa.array(loaded, pa.timestamp("us", tz="UTC")),
        "_batch_id": pa.array([-1] * len(uids), pa.int32()),
        "load_date": pa.array([t.date() for t in loaded], pa.date32()),
    })
    pq.write_to_dataset(table, path, partition_cols=["_batch_id", "load_date"])
    return {"findings": len(uids), "new_uids": len(pool), "severity": severity}


# ---------------------------------------------------------------------------
# TPC-H-ish tables for the CORE15 queries (same schemas and value domains
# as the repository's test tables: see sources.catalog.TABLES)
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window",
)


def tpch_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write region … embeddings as one parquet file each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def cents(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)

    def day_ts(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    adjs = np.array(["small", "red", "blue", "green", "large", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve", "pipe"])
    retail = np.round(900.0 + (np.arange(n_part) % 20000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"])[
            rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    odate = day_ts("1995-01-01", 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": cents(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 122, n_li).astype(
            "timedelta64[D]"), pa.timestamp("us")),
    })
    ets = np.sort(np.datetime64("2024-01-01", "us")
                  + rng.integers(0, 30 * 86400 * 10**6, n_evt).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": cents(0, 50, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact copy
        elif texts and r < 0.15:
            base = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(max(1, len(base) // 20)):
                base[int(rng.integers(0, len(base)))] = str(words[rng.integers(0, 30)])
            texts.append(" ".join(base))  # near copy
        else:
            texts.append(" ".join(words[rng.integers(0, 30, int(rng.integers(20, 90)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, n_doc, p=[0.5, 0.125, 0.125, 0.125, 0.125])],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 1, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

