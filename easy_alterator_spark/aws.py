"""AWS account-id resolution for the ``{aws_account_id}`` DDL
placeholder.

The reference fetches it from EC2 instance metadata
(helper.py:96-107). Here the chain is broader so the engine works on
and off EC2, each step gated and fail-soft:

1. ``AWS_ACCOUNT_ID`` env var (explicit override, also the test seam)
2. boto3 STS ``get_caller_identity`` (works wherever credentials do)
3. EC2 IMDSv2 instance-identity document (token + document fetch,
   sub-second timeouts)
4. the provided default ("" keeps the placeholder literal-replaced
   with nothing, matching parser.corpus_from_rows's default)

The result is cached per process — resolution runs at most once no
matter how many corpora are parsed.
"""

from __future__ import annotations

import functools
import json
import os

_IMDS_BASE = "http://169.254.169.254/latest"
_IMDS_TIMEOUT = 0.8  # seconds; off-EC2 this path must fail fast


def _from_sts() -> str | None:
    try:
        import boto3  # noqa: PLC0415 — optional dependency

        return boto3.client("sts").get_caller_identity()["Account"]
    except Exception:
        return None


def _from_imds() -> str | None:
    import urllib.request

    try:
        tok_req = urllib.request.Request(
            f"{_IMDS_BASE}/api/token",
            method="PUT",
            headers={"X-aws-ec2-metadata-token-ttl-seconds": "21600"},
        )
        token = urllib.request.urlopen(tok_req, timeout=_IMDS_TIMEOUT).read().decode()
        doc_req = urllib.request.Request(
            f"{_IMDS_BASE}/dynamic/instance-identity/document",
            headers={"X-aws-ec2-metadata-token": token},
        )
        doc = json.loads(
            urllib.request.urlopen(doc_req, timeout=_IMDS_TIMEOUT).read().decode()
        )
        return doc.get("accountId")
    except Exception:
        return None


@functools.lru_cache(maxsize=1)
def _resolve_cached() -> str | None:
    return _from_sts() or _from_imds()


def resolve_aws_account_id(default: str = "") -> str:
    """Best-effort AWS account id; see module docstring for the chain."""
    env = os.environ.get("AWS_ACCOUNT_ID")
    if env:
        return env
    return _resolve_cached() or default
