"""The benchmark's own correctness check, independent of the program's
decode path.

The expected ``MensagemCarga`` for a ``sequencia`` is recomputed here in
plain Python (``hashlib.md5`` + ``base64``) from the generator's published
derivation: md5-derived fields keyed by ``"{seq}-{indice}-{t|n|u}"``, the
logical clock ``EPOCH0 + seq`` and ``max(1, kb*1024 // 200)`` registros.
Sampled values are decoded with the scalar ``avro_codec.decode_mensagem``
or ``json.loads``, never with the vectorized codec the apps use.

Every function takes plain data (dicts, lists, bytes), so the tests can
feed it dropped, duplicated and corrupted records without running Spark.
"""

from __future__ import annotations

import base64
import hashlib
import json
from collections import Counter

EPOCH0 = 1_700_000_000_000
TEXT_LEN = 100
# size_estimate counts 4 + 8 + 8 + len(texto) + len(uuid) per registro
REGISTRO_EST_BYTES = 20 + TEXT_LEN + 36


def n_registros(kb: int) -> int:
    return max(1, kb * 1024 // 200)


def _md5(key: str) -> bytes:
    return hashlib.md5(key.encode()).digest()


def _uuid(key: str) -> str:
    h = _md5(key).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _text(key: str) -> str:
    block = base64.b64encode(_md5(key)).decode()
    block = block.replace("+", "a").replace("/", "b").replace("=", "")
    return (block * (TEXT_LEN // 22 + 2))[:TEXT_LEN]


def _numero(key: str) -> float:
    return (int(_md5(key).hex()[:8], 16) % 1_000_000) / 1000.0


def expected_message(seq: int, kb: int) -> dict:
    """The generator's row for ``sequencia == seq``."""
    ts = EPOCH0 + seq
    dados = []
    for j in range(n_registros(kb)):
        rk = f"{seq}-{j}"
        dados.append({
            "indice": j,
            "texto": _text(rk + "-t"),
            "numero": _numero(rk + "-n"),
            "timestamp": ts,
            "uuid": _uuid(rk + "-u"),
        })
    return {
        "id": _uuid(f"id-{seq}"),
        "timestamp": ts,
        "sequencia": seq,
        "dados": dados,
        "versao": "1.0",
    }


def round_robin_counts(n: int, partitions: int) -> dict[int, int]:
    """Records per partition under the producer's ``pmod(seq - 1, P)``
    routing of sequencia 1..n."""
    return {p: n // partitions + (1 if p < n % partitions else 0)
            for p in range(partitions)}


def count_faults(expected: dict[int, int], got: dict[int, int]) -> tuple[int, int]:
    """(missing, duplicated) from per-partition record counts."""
    missing = duplicated = 0
    for p in set(expected) | set(got):
        d = got.get(p, 0) - expected.get(p, 0)
        if d < 0:
            missing -= d
        else:
            duplicated += d
    return missing, duplicated


def sequence_faults(seqs, n: int) -> tuple[int, int]:
    """(missing, duplicated) from every stored ``sequencia``; a value
    outside 1..n counts as an extra record."""
    counts = Counter(seqs)
    missing = sum(1 for s in range(1, n + 1) if s not in counts)
    duplicated = sum(c - (1 if 1 <= s <= n else 0) for s, c in counts.items())
    return missing, duplicated


def decode_value(value: bytes, fmt: str) -> dict:
    if fmt == "json":
        return json.loads(value.decode("utf-8"))
    from teste_carga_avro_vs_json_spark.functions.avro_codec import decode_mensagem

    return decode_mensagem(value)


def wrong_records(records, fmt: str, kb: int, partitions: int) -> int:
    """Count sampled records that are not exactly the generator's row.

    ``records`` holds ``(partition, seq, value)``: the partition the
    record was stored under, the sequencia its key or column names, and
    the stored value bytes. A record is wrong if it sits in the wrong
    partition, does not decode, or decodes to anything but
    ``expected_message(seq, kb)``."""
    wrong = 0
    for partition, seq, value in records:
        try:
            ok = (
                partition == (seq - 1) % partitions
                and decode_value(value, fmt) == expected_message(seq, kb)
            )
        except Exception:  # noqa: BLE001 - undecodable counts as wrong
            ok = False
        wrong += not ok
    return wrong


def seq_from_key(key: bytes) -> int:
    """``msg-{seq}`` record key -> seq (-1 when malformed)."""
    text = key.decode("utf-8", "replace") if key else ""
    return int(text[4:]) if text.startswith("msg-") and text[4:].isdigit() else -1


def report_faults(report: dict, n: int, kb: int, parse: bool) -> int:
    """Failures the consumer report admits: messages short of or beyond
    ``n``, error messages, a success rate other than 100.00, and for
    E2E_PARSE a structural byte total other than the generator's."""
    faults = abs(int(report.get("total_mensagens", 0)) - n)
    faults += int(report.get("mensagens_erro", 0))
    if report.get("taxa_sucesso_porcentagem") != "100.00":
        faults = max(faults, 1)
    if parse and int(report.get("total_bytes", 0)) != n * n_registros(kb) * REGISTRO_EST_BYTES:
        faults = max(faults, 1)
    return faults
