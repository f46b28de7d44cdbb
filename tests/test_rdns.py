"""rDNS enrichment — injectable resolver, 'null' sentinel, status mapping
(reference dns_utils.py:40-50, log_utils.py:105-113)."""

from maillogsentinel_spark.operators.rdns import enrich_rdns
from maillogsentinel_spark.schemas import RDNS_SCHEMA

import os
import tempfile
import uuid

# fixed path: workers re-import this module, so mkdtemp would differ per process
CALL_DIR = os.path.join(tempfile.gettempdir(), "mls-rdns-call-log")
os.makedirs(CALL_DIR, exist_ok=True)


def fake_resolver(ip):
    # side-channel call log that survives the worker-process boundary
    open(os.path.join(CALL_DIR, f"{ip}-{uuid.uuid4().hex}"), "w").close()
    last = int(ip.rsplit(".", 1)[1])
    if last % 3 == 0:
        return None, "Timeout"
    if last % 3 == 1:
        return f"host-{ip}.example.com", None
    return None, "ERRNO 1"


def test_enrich_with_callable(spark):
    for f in os.listdir(CALL_DIR):
        os.unlink(os.path.join(CALL_DIR, f))
    df = spark.createDataFrame(
        [("1.1.1.1",), ("1.1.1.1",), ("2.2.2.2",), ("3.3.3.3",)], ["ip"]
    )
    out = {r["ip"]: r for r in enrich_rdns(df, fake_resolver).collect()}
    assert out["1.1.1.1"]["hostname"] == "host-1.1.1.1.example.com"
    assert out["1.1.1.1"]["reverse_dns_status"] == "OK"
    assert out["2.2.2.2"]["hostname"] == "null"
    assert out["2.2.2.2"]["reverse_dns_status"] == "ERRNO 1"
    assert out["3.3.3.3"]["hostname"] == "null"
    assert out["3.3.3.3"]["reverse_dns_status"] == "Timeout"
    # distinct projection: duplicate 1.1.1.1 resolved once
    calls = sorted(f.rsplit("-", 1)[0] for f in os.listdir(CALL_DIR))
    assert calls == ["1.1.1.1", "2.2.2.2", "3.3.3.3"]
    # no hidden state across calls: a second run resolves every IP again
    enrich_rdns(df, fake_resolver).collect()
    calls = sorted(f.rsplit("-", 1)[0] for f in os.listdir(CALL_DIR))
    assert calls == sorted(["1.1.1.1", "2.2.2.2", "3.3.3.3"] * 2)


def test_enrich_with_table(spark):
    df = spark.createDataFrame([("1.1.1.1",), ("9.9.9.9",)], ["ip"])
    rdns = spark.createDataFrame(
        [("1.1.1.1", "h1", None)], RDNS_SCHEMA
    )
    out = {r["ip"]: r for r in enrich_rdns(df, rdns).collect()}
    assert out["1.1.1.1"]["hostname"] == "h1"
    # IP absent from the table → unresolved failure
    assert out["9.9.9.9"]["hostname"] == "null"
    assert out["9.9.9.9"]["reverse_dns_status"] == "Failed (Unknown)"
