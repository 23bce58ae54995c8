"""Seeded input generators. The same seed gives byte-identical inputs; every
generator also returns the ground truth the output checks compare against.

- ``sarif_files``: SARIF 2.1.0 documents in the shape of
  ``tests/fixtures/sample.sarif`` — several tools, scalar and list CWEs,
  duplicate rule ids, missing levels, about half the results fingerprinted.
- ``ocsf_files``: ``*.ocsf.json`` finding arrays for the file monitor, a
  known share of them malformed or carrying a finding without a uid.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

# level -> staged OCSF severity (plans/convert.py _severity_name)
SEVERITY_OF_LEVEL = {
    "error": "High",
    "warning": "Medium",
    "note": "Informational",
    "none": "Unknown",
    None: "Unknown",
}

_TOOLS = [
    # (driver name, semanticVersion, version, automationDetails.id?)
    ("DemoScanner", "3.2.1", "3.2", True),
    ("Terse Tool", None, "0.9", False),
    ("CodeQL", "2.15.0", "2.15", True),
    ("Semgrep OSS", None, "1.50.0", True),
]
_CWES = ["CWE-89", "CWE-79", "CWE-22", "CWE-78", "CWE-400", "CWE-798", "CWE-502"]
_WORDS = (
    "input query user path token secret buffer loop value file request "
    "handler render config parse cache lock socket"
).split()
_DIRS = ["src/db", "web", "lib", "cmd", "pkg/auth", "internal/io", "a/b"]
_EXTS = [".py", ".js", ".go", ".rs", ".java"]


@dataclass
class SarifTruth:
    findings: int = 0
    severity: dict[str, int] = field(default_factory=dict)
    fingerprint: int = 0
    hash: int = 0

    def add(self, level, fingerprinted: bool) -> None:
        self.findings += 1
        sev = SEVERITY_OF_LEVEL[level]
        self.severity[sev] = self.severity.get(sev, 0) + 1
        if fingerprinted:
            self.fingerprint += 1
        else:
            self.hash += 1


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _sarif_run(rng: random.Random, tool, n_results: int, truth: SarifTruth) -> dict:
    name, sem, ver, has_auto = tool
    driver: dict = {"name": name, "version": ver}
    if sem:
        driver["semanticVersion"] = sem
    rules = []
    for i in range(rng.randint(3, 6)):
        rule: dict = {
            "id": f"{name[:2].upper()}-{i:02d}",
            "shortDescription": {"text": _sentence(rng, 3)},
        }
        kind = rng.random()
        if kind < 0.4:
            rule["properties"] = {"cwe": rng.choice(_CWES)}
        elif kind < 0.7:
            rule["properties"] = {"cwe": rng.sample(_CWES, 2)}
        rules.append(rule)
    # a duplicate rule id: the converter keeps the LAST definition
    rules.append(dict(rules[0], shortDescription={"text": _sentence(rng, 2)}))
    driver["rules"] = rules
    run: dict = {"tool": {"driver": driver}}
    if has_auto:
        run["automationDetails"] = {"id": f"nightly/build-{rng.randint(1, 99999)}"}
        run["invocations"] = [
            {"startTimeUtc": "not-a-timestamp"},
            {"startTimeUtc": f"2024-03-{rng.randint(1, 28):02d}T10:30:00Z"},
        ]
    results = []
    for _ in range(n_results):
        level = rng.choice(["error", "warning", "note", "none", None])
        res: dict = {"message": {"text": _sentence(rng, rng.randint(0, 8))}}
        if rng.random() < 0.97:
            res["ruleId"] = rng.choice(rules)["id"] if rng.random() < 0.9 else "XX-UNLISTED"
        if level is not None:
            res["level"] = level
        if rng.random() < 0.85:
            region: dict = {"startLine": rng.randint(1, 5000)}
            if not res["message"]["text"]:
                region["snippet"] = {"text": _sentence(rng, 4)}
            res["locations"] = [
                {
                    "physicalLocation": {
                        "artifactLocation": {
                            "uri": f"{rng.choice(_DIRS)}/{rng.choice(_WORDS)}"
                            f"{rng.randint(0, 999)}{rng.choice(_EXTS)}"
                        },
                        "region": region,
                    }
                }
            ]
        if rng.random() < 0.1:
            res["properties"] = {"cwe": rng.choice(_CWES)}
        fp = rng.random()
        fingerprinted = fp < 0.5
        if fp < 0.35:
            res["fingerprints"] = {
                f"tool/v{k}": f"{rng.getrandbits(64):016x}" for k in range(rng.randint(1, 3))
            }
        elif fp < 0.5:
            res["partialFingerprints"] = {"csdiff/v0": f"{rng.getrandbits(64):016x}"}
        truth.add(level, fingerprinted)
        results.append(res)
    run["results"] = results
    return run


def sarif_files(seed: int, n_files: int, findings_per_file: int):
    """Return ``([(file name, text), ...], SarifTruth)``."""
    rng = random.Random(f"sarif-{seed}")
    truth = SarifTruth()
    files = []
    for i in range(n_files):
        n_runs = 2 if rng.random() < 0.3 else 1
        tools = rng.sample(_TOOLS, n_runs)
        split = findings_per_file // n_runs
        counts = [split] * (n_runs - 1) + [findings_per_file - split * (n_runs - 1)]
        doc = {
            "version": "2.1.0",
            "$schema": "https://json.schemastore.org/sarif-2.1.0.json",
            "runs": [_sarif_run(rng, t, n, truth) for t, n in zip(tools, counts)],
        }
        files.append((f"scan-{seed}-{i:05d}.sarif", json.dumps(doc)))
    return files, truth


def write_files(files, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, text in files:
        with open(os.path.join(directory, name), "w") as f:
            f.write(text)


# ---------------------------------------------------------------------------
# OCSF finding arrays (file monitor input)
# ---------------------------------------------------------------------------

@dataclass
class OcsfFile:
    name: str
    text: str
    kind: str  # "ok" | "malformed" | "uidless"
    uids: list[str]  # every finding uid written (a bad file lands none)


def _ocsf_finding(rng: random.Random, uid: str | None) -> dict:
    tool = rng.choice(_TOOLS)[0]
    path = f"{rng.choice(_DIRS)}/{rng.choice(_WORDS)}{rng.choice(_EXTS)}"
    info: dict = {
        "title": _sentence(rng, 4),
        "desc": _sentence(rng, 10),
        "created_time": 1710500000000 + rng.randint(0, 10**9),
    }
    if uid is not None:
        info["uid"] = uid
    sev = rng.choice(["High", "Medium", "Informational", "Unknown"])
    return {
        "class_name": "Application Security Posture Finding",
        "class_uid": 2007,
        "activity_name": "Update",
        "severity": sev,
        "status": "New",
        "status_id": 1,
        "time": 1710500000000,
        "metadata": {"product": {"name": tool, "version": "1.0"}, "version": "1.5.0"},
        "finding_info": info,
        "vulnerabilities": [
            {
                "cwe": {"uid": rng.choice(_CWES)},
                "affected_code": [
                    {
                        "file": {"name": path.rsplit("/", 1)[-1], "path": path, "type_id": 1},
                        "start_line": rng.randint(1, 5000),
                    }
                ],
            }
        ],
        "enrichments": [
            {
                "name": "scan_metadata",
                "value": "Scan metadata",
                "type": "custom",
                "data": {"scan_run_id": f"run-{rng.randint(1, 999)}"},
            }
        ],
    }


def ocsf_files(
    seed: int, n_files: int, findings_per_file: int, bad_share: float, tag: str
) -> list[OcsfFile]:
    """``n_files`` finding arrays; about ``bad_share`` of them are bad — half
    malformed JSON, half with one finding lacking ``finding_info.uid``."""
    rng = random.Random(f"ocsf-{tag}-{seed}")
    out = []
    for i in range(n_files):
        name = f"{tag}-{seed}-{i:05d}.ocsf.json"
        uids = [
            "boann:sast:bench:hash:"
            + hashlib.sha256(f"{tag}/{seed}/{i}/{j}".encode()).hexdigest()
            for j in range(findings_per_file)
        ]
        roll = rng.random()
        kind = "ok" if roll >= bad_share else ("malformed" if roll < bad_share / 2 else "uidless")
        findings = [_ocsf_finding(rng, u) for u in uids]
        if kind == "uidless":
            del findings[rng.randrange(len(findings))]["finding_info"]["uid"]
        text = json.dumps(findings)
        if kind == "malformed":
            text = text[: len(text) // 2]
        out.append(OcsfFile(name, text, kind, uids))
    return out

