"""Tests for the benchmark's own correctness check, and for
BENCHMARK.json naming what the runner prints.

Faults are injected into the checker's input, never into the program:
run with ``python3 -m pytest perfbench/test_check.py`` from the
repository root."""

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check  # noqa: E402
from teste_carga_avro_vs_json_spark.functions.avro_codec import encode_mensagem  # noqa: E402

N, P, KB = 7, 3, 1


def _records(fmt):
    enc = (lambda m: json.dumps(m).encode()) if fmt == "json" else encode_mensagem
    return [((s - 1) % P, s, enc(check.expected_message(s, KB))) for s in range(1, N + 1)]


def _counts(records):
    out = dict.fromkeys(range(P), 0)
    for p, _s, _v in records:
        out[p] += 1
    return out


def _faults(records, fmt="avro"):
    missing, dup = check.count_faults(check.round_robin_counts(N, P), _counts(records))
    seq_missing, seq_dup = check.sequence_faults([s for _p, s, _v in records], N)
    wrong = check.wrong_records(records, fmt, KB, P)
    return {"missing": missing, "duplicated": dup, "seq_missing": seq_missing,
            "seq_duplicated": seq_dup, "wrong": wrong}


CLEAN = {"missing": 0, "duplicated": 0, "seq_missing": 0, "seq_duplicated": 0, "wrong": 0}


@pytest.mark.parametrize("fmt", ["avro", "json"])
def test_clean_input_passes(fmt):
    assert _faults(_records(fmt), fmt) == CLEAN


def test_expected_message_shape():
    m = check.expected_message(5, 1)
    assert m["sequencia"] == 5 and m["timestamp"] == check.EPOCH0 + 5
    assert len(m["dados"]) == 5 and m["versao"] == "1.0"
    assert all(len(r["texto"]) == 100 and len(r["uuid"]) == 36 for r in m["dados"])
    assert len(check.expected_message(5, 64)["dados"]) == 327


def test_dropped_record_is_flagged():
    recs = _records("avro")
    del recs[3]
    f = _faults(recs)
    assert f["missing"] == 1 and f["seq_missing"] == 1
    assert f["duplicated"] == 0 and f["wrong"] == 0


def test_duplicated_record_is_flagged():
    recs = _records("avro")
    recs.append(recs[2])
    f = _faults(recs)
    assert f["duplicated"] == 1 and f["seq_duplicated"] == 1
    assert f["missing"] == 0 and f["wrong"] == 0


@pytest.mark.parametrize("fmt", ["avro", "json"])
def test_corrupted_value_is_flagged(fmt):
    recs = _records(fmt)
    p, s, v = recs[4]
    # flip one byte inside the first registro's texto
    i = v.index(check.expected_message(s, KB)["dados"][0]["texto"].encode()) + 10
    recs[4] = (p, s, v[:i] + bytes([v[i] ^ 0x01]) + v[i + 1:])
    assert _faults(recs, fmt)["wrong"] == 1


def test_misrouted_and_undecodable_records_are_wrong():
    recs = _records("avro")
    p, s, v = recs[0]
    recs[0] = ((p + 1) % P, s, v)
    recs[1] = (recs[1][0], recs[1][1], b"\xff")
    assert _faults(recs)["wrong"] == 2


def test_report_faults():
    n, kb = 10, 1
    ok = {"total_mensagens": n, "mensagens_erro": 0, "taxa_sucesso_porcentagem": "100.00",
          "total_bytes": n * 5 * check.REGISTRO_EST_BYTES}
    assert check.report_faults(ok, n, kb, parse=True) == 0
    assert check.report_faults({**ok, "total_mensagens": n - 2}, n, kb, parse=True) == 2
    assert check.report_faults({**ok, "mensagens_erro": 1}, n, kb, parse=True) == 1
    assert check.report_faults({**ok, "taxa_sucesso_porcentagem": "99.90"}, n, kb, parse=True) == 1
    assert check.report_faults({**ok, "total_bytes": 1}, n, kb, parse=True) == 1
    assert check.report_faults({**ok, "total_bytes": 1}, n, kb, parse=False) == 0


def test_seq_from_key():
    assert check.seq_from_key(b"msg-42") == 42
    assert check.seq_from_key(b"msg-x") == -1 and check.seq_from_key(None) == -1


def test_benchmark_json_names_what_the_runner_prints():
    from perfbench import layers, run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
