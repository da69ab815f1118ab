"""Workload inputs: changelog generation and its pinned fingerprint.

Every workload input comes from ``changelog.write_changelog_dir`` with a
generator seed derived from ``--seed``. The fingerprint (rows, distinct
urls, op mix, html bytes and digest) of each (workload, generator seed)
is recorded in ``fingerprints.json``; a run whose input differs fails,
so an edit to the generator cannot silently change a workload.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
# --seed maps onto this many pinned generator seeds (seed mod PINNED).
PINNED = 16


class InputDrift(RuntimeError):
    """The generated changelog differs from its recorded fingerprint."""


@dataclass(frozen=True)
class ChangelogSpec:
    events: int
    files: int
    domains: int
    pages_per_domain: int = 200
    body_paragraphs: int = 52  # ~4 KB pages


def generator_seed(seed: int) -> int:
    return seed % PINNED


def write_changelog(spark, path: str, spec: ChangelogSpec, seed: int) -> list[str]:
    """Generate the changelog under ``path``; return its parquet files in
    event_seq order (one range partition per file)."""
    from web3research_etl_spark.changelog import write_changelog_dir

    write_changelog_dir(
        spark,
        path,
        spec.events,
        files_per_batch=spec.files,
        seed=generator_seed(seed),
        n_domains=spec.domains,
        pages_per_domain=spec.pages_per_domain,
        body_paragraphs=spec.body_paragraphs,
    )
    return sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )


def fingerprint(files: list[str]) -> dict:
    t = pq.ParquetDataset(files).read(columns=["op", "url", "event_seq", "html"])
    t = t.sort_by([("event_seq", "ascending"), ("op", "ascending")])
    digest = hashlib.sha256()
    for chunk in t.column("html").chunks:
        for h in chunk.to_pylist():
            digest.update(b"\x00" if h is None else b"\x01" + len(h).to_bytes(4, "little") + h)
    ops = {r["values"]: r["counts"] for r in pc.value_counts(t.column("op")).to_pylist()}
    return {
        "rows": t.num_rows,
        "urls": len(pc.unique(t.column("url"))),
        "ops": {k: ops.get(k, 0) for k in ("I", "U", "D")},
        "html_bytes": int(pc.sum(pc.binary_length(t.column("html"))).as_py() or 0),
        "html_sha256": digest.hexdigest()[:32],
    }


def load_fingerprints(path: str = FINGERPRINTS) -> dict:
    with open(path) as f:
        return json.load(f)


def check_fingerprint(workload: str, seed: int, got: dict, recorded: dict) -> None:
    want = recorded["workloads"][workload].get(str(generator_seed(seed)))
    if want is None:
        raise InputDrift(f"no fingerprint recorded for {workload} seed {generator_seed(seed)}")
    if want != got:
        raise InputDrift(
            f"{workload} seed {generator_seed(seed)}: input changed\n"
            f"  recorded {json.dumps(want, sort_keys=True)}\n"
            f"  got      {json.dumps(got, sort_keys=True)}"
        )


def record_fingerprints(spark, work: str, workload: str, spec: ChangelogSpec) -> None:
    """Generate ``workload``'s input for every pinned seed and store the
    fingerprints (keeping other workloads' records)."""
    data = load_fingerprints() if os.path.exists(FINGERPRINTS) else {"workloads": {}}
    data.setdefault("development_seed", 0)
    data.setdefault("validation_seed", 7)  # claims must also hold here
    data["pinned_seeds"] = PINNED
    rec = data["workloads"].setdefault(workload, {})
    for seed in range(PINNED):
        files = write_changelog(spark, os.path.join(work, f"fp{seed}"), spec, seed)
        rec[str(seed)] = fingerprint(files)
    with open(FINGERPRINTS, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
