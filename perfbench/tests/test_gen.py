"""The generator is seeded: one seed gives the same bytes, another seed
different bytes, and the bytes are valid Avro for the declared schema."""

import hashlib
import io
import json
import os

import pyarrow.parquet as pq
import pytest

import avro_layout as al
import gen


def _digest(workload: str, seed: int, tmp_path) -> str:
    work = tmp_path / f"{workload}-{seed}-{len(os.listdir(tmp_path))}"
    gen.build(workload, seed, 2.0, str(work))
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(work)):
        for f in sorted(files):
            t = pq.read_table(os.path.join(root, f))
            h.update(f.encode())
            for col in t.columns:
                for chunk in col.chunks:
                    for buf in chunk.buffers():
                        if buf is not None:
                            h.update(buf.to_pybytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", ["tx_window", "curate_batch"])
def test_same_seed_same_bytes(workload, tmp_path):
    assert _digest(workload, 7, tmp_path) == _digest(workload, 7, tmp_path)


@pytest.mark.parametrize("workload", ["tx_window", "curate_batch"])
def test_other_seed_other_bytes(workload, tmp_path):
    assert _digest(workload, 7, tmp_path) != _digest(workload, 8, tmp_path)


def test_drain_events_seeded():
    a, b, c = gen.drain_events(3, 0), gen.drain_events(3, 0), gen.drain_events(4, 0)
    va, vb, vc = (al.encode_transactions(e) for e in (a, b, c))
    assert va.equals(vb)
    assert not va.equals(vc)


def test_payloads_decode_with_the_program_codec():
    from flink_kafka_table_api_spark.sources.avro_codec import _decode

    users = gen.UserSampler(1000, 1.1)
    ev = gen.drop_events("tx_window", 5, 400, users)
    values = al.encode_transactions(ev)
    schema = json.loads(al.TRANSACTION_AVSC)
    for i in range(len(ev["id"])):
        raw = values[i].as_py()
        assert raw[:5] == b"\x00\x00\x00\x00\x01"
        rec = _decode(io.BytesIO(raw[5:]), schema)
        assert rec["id"] == f"t{ev['id'][i]:010d}"
        assert rec["amount"] == ev["amount"][i]
        assert rec["currency"] == al.CURRENCIES[ev["currency"][i]]
        assert int(rec["timestamp"].timestamp() * 1000) == ev["ts_ms"][i]
        assert rec["status"] == al.STATUSES[ev["status"][i]]
        assert rec["userId"] == f"u{ev['user'][i]:07d}"
        cat = ev["category"][i]
        assert rec["category"] == (None if cat < 0 else al.CATEGORIES[cat])


def test_late_events_only_after_the_watermark_exists():
    users = gen.UserSampler(1000, 1.1)
    plan = gen.PLANS["tx_window"]
    early = int(gen.LATE_FROM_S * plan.drops_per_s) - 1
    assert not gen.drop_events("tx_window", 1, early, users)["late"].any()
    late = sum(gen.drop_events("tx_window", 1, i, users)["late"].sum()
               for i in range(early + 1, early + 60))
    assert late > 0


def test_sink_decoder_round_trip_and_layout_checks():
    import datetime as dt

    from flink_kafka_table_api_spark.sources.avro_codec import encode_record

    def rec(i, usd):
        return {"id": f"t{i:010d}", "amount": 12.5, "currency": "GBP",
                "timestamp": dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
                "merchant": "m00042", "userId": "u0000007", "amountInUsd": usd,
                "processingTimestamp": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)}

    raw = [b"\x00\x00\x00\x00\x02" + encode_record(al.APPROVED_AVSC, rec(i, 12.5 * 1.3))
           for i in range(3)]
    out = al.decode_approved(raw)
    assert list(out["id"]) == [0, 1, 2]
    assert (out["amount_usd"] == 12.5 * 1.3).all()
    assert (out["currency"] == 2).all()
    with pytest.raises(al.LayoutError):
        al.decode_approved([raw[0], raw[1][:-1]])
    with pytest.raises(al.LayoutError):
        al.decode_approved([b"\x00\x00\x00\x00\x01" + raw[0][5:]])
