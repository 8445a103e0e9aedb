"""Imperative reference for the ``kdc_report`` check.

A line-by-line state machine over each log file, written from the
reference reader's rules (KDCLogRecordReader.java:208-324) and sharing no
code with the Spark pipeline: the last header wins, the first error is
kept, every error line clears success, a "sending N bytes" line ends the
record, and a tail without that line is dropped. The records then go
through the mapper's accept filter and counters (UserTimeMapper.java:27-49)
and the reducer's per-client first/last/count (UserTimeReducer.java:23-31).
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import os
import re
from datetime import datetime

_TS = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"
_ATOM = r"[-/_\.a-zA-Z0-9]+"
_REALM = r"[-\.a-zA-Z0-9]+"
_IP = r"(?:IPv4:[\d\.]+|IPv6:[0-9a-fA-F\.:]+)"
_HEADER = re.compile(
    rf"({_TS})\s+((?:AS|TGS)-REQ)\s+({_ATOM})@({_REALM})\s+from\s+{_IP}"
    rf"\s+for\s+{_ATOM}@{_REALM}"
)
_SENDING = re.compile(rf"{_TS}\s+sending\s+\d+\s+bytes\s+to\s+{_IP}")
_VERIFY = re.compile(rf"{_TS}\s+Failed to verify (?:AP-REQ:|checksum|authenticator)")
_LEADING_TS = re.compile(rf"^({_TS})")
_BAD_SERVER_ETYPE = re.compile(r"\bServer \(.*\) has no support.*\betypes\b")

# Error lines of the reader's if/else-if chain (KDCLogRecordReader.java:272-297).
_ERRORS = (
    "Failed to decrypt PA-DATA --",
    "UNKNOWN --",
    "Client no longer in database",
    "Client not found in database",
    "Server not found in database",
    "Client expired",
    "Client's key has expired",
    "Server's key has expired",
    "Principal may not act as server",
    "Principal may not act as client",
    "krb_rd_req:",
    "Too large time skew",
    "No key matches pa-data",
    "Addition ticket have not matching etypes",
    "Bad request for renewable ticket",
    "Ticket expired",
    "equest to forward non-forwardable ticket",
    "equest to renew non-renewable ticket",
    "Failed building TGS-REP",
)

COUNTERS = (
    "rt_auth",
    "rt_tgs",
    "rt_unknown",
    "rt_invalid",
    "rej_invalid",
    "rej_failed",
    "rej_missing_preauth",
    "rej_request_type",
    "rej_referral",
)


def _is_error(line: str) -> bool:
    return any(s in line for s in _ERRORS) or bool(_BAD_SERVER_ETYPE.search(line))


def _records(lines):
    """Yield (ts_raw, req_type, client, valid, success, referral, has_error)."""
    hdr = ts_line = None
    success = referral = has_error = False
    for line in lines:
        if m := _HEADER.search(line):
            hdr, ts_line = m, line
            if m.group(2) == "TGS-REQ":
                success = True
        elif _SENDING.search(line):
            ts = _LEADING_TS.match(ts_line) if ts_line else None
            req = None
            if hdr is not None:
                req = {"AS-REQ": "AUTH", "TGS-REQ": "TGS"}.get(hdr.group(2), "UNKNOWN")
            yield (
                ts.group(1) if ts else None,
                req,
                hdr.group(3) if hdr else None,
                hdr is not None,
                success,
                referral,
                has_error,
            )
            hdr = ts_line = None
            success = referral = has_error = False
        elif "Pre-authentication succeeded" in line:
            success = True
        elif _is_error(line):
            has_error, success = True, False
        elif "eturning a referral to realm" in line:
            referral = True
        elif _VERIFY.search(line):
            ts_line, has_error, success = line, True, False


def _read(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return f.read().splitlines()


def reference_report(log_dir: str) -> tuple[dict, dict]:
    """(per-client {client: (first_ts, last_ts, n)}, counters) for a corpus."""
    counters = dict.fromkeys(COUNTERS, 0)
    users: dict[str, list] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*.log*")))
    if not paths:
        raise ValueError(f"no log files under {log_dir}")
    for path in paths:
        for ts, req, client, valid, success, referral, has_error in _records(_read(path)):
            if not valid:
                counters["rt_invalid"] += 1
                counters["rej_invalid"] += 1
                continue
            counters[{"AUTH": "rt_auth", "TGS": "rt_tgs"}.get(req, "rt_unknown")] += 1
            if not success:
                counters["rej_failed"] += 1
                counters["rej_missing_preauth"] += not has_error
            elif req != "AUTH":
                counters["rej_request_type"] += 1
            elif referral:
                counters["rej_referral"] += 1
            else:
                t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
                u = users.setdefault(client, [t, t, 0])
                u[0], u[1], u[2] = min(u[0], t), max(u[1], t), u[2] + 1
    return {c: tuple(v) for c, v in users.items()}, counters


def fingerprint(users: dict, counters: dict) -> str:
    """Order-free digest of a report: its rows and every counter."""
    h = hashlib.sha256()
    for client in sorted(users):
        first, last, n = users[client]
        h.update(f"{client}\t{first.isoformat()}\t{last.isoformat()}\t{n}\n".encode())
    for name in COUNTERS:
        h.update(f"{name}={counters[name]}\n".encode())
    return h.hexdigest()
