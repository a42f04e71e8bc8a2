"""Seeded input generators for the benchmark.

``write_cv_corpus`` writes a directory of ODE ``bsmTx`` NDJSON files
(plain and gzip) and returns each file's ground truth. The program
under test receives only the files; the truth stays with the
benchmark's checker.

With ``fixtures/config_2.ini`` every record yields 43 validation rows.
An invalid record carries exactly two rule violations (an unknown
``securityResultCode`` and a latitude above 90), so it yields two
errors. About one record in seven is invalid; which ones is drawn from
the seed.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import asdict, dataclass

VALIDATIONS_PER_RECORD = 43
ERRORS_PER_INVALID = 2
INVALID_SHARE = 1 / 7


@dataclass(frozen=True)
class FileTruth:
    name: str
    records: int
    invalid: int
    bytes: int


def make_record(rng: random.Random, serial: int, bad: bool) -> dict:
    """One ODE bsmTx record; ``bad`` plants the two violations."""
    gen_s = rng.randrange(0, 86_400 * 365)
    day, rem = divmod(gen_s, 86_400)
    month, mday = divmod(day, 28)
    hms = f"{rem // 3600:02d}:{rem // 60 % 60:02d}:{rem % 60:02d}"
    stamp = f"2019-{month % 12 + 1:02d}-{mday + 1:02d}T{hms}"
    return {
        "metadata": {
            "recordGeneratedAt": f"{stamp}.{rng.randrange(1000):03d}Z",
            "recordGeneratedBy": "OBU",
            "recordType": "bsmTx",
            "sanitized": "False",
            "schemaVersion": 6,
            "securityResultCode": "bogus" if bad else "success",
            "bsmSource": "EV",
            "payloadType": "us.dot.its.jpo.ode.model.OdeBsmPayload",
            "logFileName": f"bsmTx_{rng.randrange(10**6)}.log",
            "odeReceivedAt": f"{stamp}.{rng.randrange(1000):03d}Z",
            "serialId": {
                "streamId": f"s{rng.randrange(10**6)}",
                "bundleSize": 10,
                "bundleId": serial // 10,
                "recordId": serial % 10,
                "serialNumber": serial,
            },
            "receivedMessageDetails": {
                "locationData": {
                    "latitude": 95.0 if bad else round(rng.uniform(-89.9, 89.9), 6),
                    "longitude": round(rng.uniform(-179.9, 179.9), 6),
                    "elevation": str(rng.randrange(-400, 6000)),
                    "speed": round(rng.uniform(0, 160), 2),
                    "heading": round(rng.uniform(0, 359), 4),
                },
                "rxSource": "NA",
            },
        },
        "payload": {},
    }


def write_cv_corpus(
    out_dir: str,
    seed: int,
    n_files: int,
    records_per_file: int,
    *,
    prefix: str = "cv",
) -> list[FileTruth]:
    """Write ``n_files`` NDJSON files under ``out_dir``; odd-numbered
    files are gzip. Same seed, same bytes (gzip mtime is pinned)."""
    os.makedirs(out_dir, exist_ok=True)
    truth = []
    for i in range(n_files):
        rng = random.Random(f"{seed}/{prefix}/{i}")
        flags = [rng.random() < INVALID_SHARE for _ in range(records_per_file)]
        body = "\n".join(
            json.dumps(make_record(rng, serial, bad), separators=(",", ":"))
            for serial, bad in enumerate(flags)
        ).encode() + b"\n"
        name = f"{prefix}_{i:04d}.json" + (".gz" if i % 2 else "")
        path = os.path.join(out_dir, name)
        if i % 2:
            with open(path, "wb") as raw, gzip.GzipFile(
                filename="", mode="wb", fileobj=raw, mtime=0
            ) as gz:
                gz.write(body)
        else:
            with open(path, "wb") as fh:
                fh.write(body)
        truth.append(
            FileTruth(name, records_per_file, sum(flags), os.path.getsize(path))
        )
    return truth


def truth_json(truth: list[FileTruth]) -> str:
    return json.dumps([asdict(t) for t in truth], sort_keys=True)
