"""Spark-side serde round trips (SURVEY.md §5 item 2) + generator
determinism."""

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.functions import avro_vec
from teste_carga_avro_vs_json_spark.functions.avro_codec import decode_mensagem, encode_mensagem
from teste_carga_avro_vs_json_spark.operators import serde
from teste_carga_avro_vs_json_spark.sources import generator


def _msgs(spark, n=20):
    return generator.mensagens(spark, n, tamanho_kb=1)


def _assert_same(a, b):
    # nullability flips through decode; names/types/values must match
    assert a.columns == b.columns
    assert [f.dataType.simpleString() for f in a.schema.fields] == [
        f.dataType.simpleString() for f in b.schema.fields
    ]
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_generator_deterministic(spark):
    h1 = _msgs(spark).select(F.md5(F.to_json(F.struct("*")))).collect()
    h2 = _msgs(spark).select(F.md5(F.to_json(F.struct("*")))).collect()
    assert h1 == h2


def test_generator_shape(spark):
    msgs = _msgs(spark, 7)
    rows = msgs.collect()
    assert len(rows) == 7
    # max(1, 1*1024//200) == 5 registros (GeradorCargaEstruturada.java:50)
    assert all(len(r.dados) == 5 for r in rows)
    assert all(len(r.dados[0].texto) == 100 for r in rows)
    assert all(r.versao == "1.0" for r in rows)


def test_json_roundtrip_lossless(spark):
    msgs = _msgs(spark)
    _assert_same(serde.json_roundtrip(msgs), msgs)


def test_avro_roundtrip_lossless(spark):
    """The one Spark codec path, pinned by value to the scalar reference:
    encoded bytes equal ``encode_mensagem`` per row; decoded rows equal
    ``decode_mensagem`` and the input. At 64 KB every message is above
    ``avro_vec._TALL_MSG_BYTES``, so decode takes the row-serial branch."""
    for kb, n in ((1, 20), (64, 6)):
        msgs = generator.mensagens(spark, n, tamanho_kb=kb)
        rows = {r.sequencia: r.asDict(recursive=True) for r in msgs.collect()}
        enc = serde.avro_encode(msgs)
        values = {r.sequencia: bytes(r.valor_avro) for r in enc.collect()}
        assert values.keys() == rows.keys()
        for seq, v in values.items():
            assert v == encode_mensagem(rows[seq])
            assert decode_mensagem(v) == rows[seq]
        tall = min(len(v) for v in values.values()) > avro_vec._TALL_MSG_BYTES
        assert tall == (kb == 64)

        decoded = serde.avro_decode(enc).collect()
        assert {r.sequencia: r.asDict(recursive=True) for r in decoded} == rows
        back = serde.avro_roundtrip(msgs)
        # nullability flips through the arrow_udf; compare values + names
        assert back.columns == msgs.columns
        assert {r.sequencia: r.asDict(recursive=True) for r in back.collect()} == rows
        assert back.exceptAll(msgs).count() == 0
        assert msgs.exceptAll(back).count() == 0


def test_payload_sizes_positive(spark):
    sizes = serde.payload_sizes(_msgs(spark, 5)).collect()
    for r in sizes:
        # ~5 registros * ~200B JSON heuristic (GeradorMensagemJson.java:36-38)
        assert r.bytes_json > 700
        # Avro binary strictly smaller than JSON text for this payload
        assert 0 < r.bytes_avro < r.bytes_json


def test_confluent_framing(spark):
    from teste_carga_avro_vs_json_spark.functions.avro_codec import (
        confluent_schema_id,
        confluent_unwrap,
        confluent_wrap,
    )

    enc = serde.avro_encode(_msgs(spark, 3))
    framed = enc.select(
        "sequencia",
        confluent_wrap(F.col("valor_avro"), schema_id=42).alias("wire"),
        F.col("valor_avro"),
    )
    out = framed.select(
        "sequencia",
        confluent_schema_id(F.col("wire")).alias("sid"),
        (confluent_unwrap(F.col("wire")) == F.col("valor_avro")).alias("same"),
    ).collect()
    assert all(r.sid == 42 and r.same for r in out)


def test_confluent_schema_id_unsigned_range(spark):
    """Confluent ids are unsigned 32-bit: ids >= 2^31 must not overflow
    to NULL through a signed-int cast."""
    from teste_carga_avro_vs_json_spark.functions.avro_codec import (
        confluent_schema_id,
        confluent_wrap,
    )

    big = 3_000_000_000
    out = (
        spark.range(1)
        .select(confluent_wrap(F.lit(b"x"), schema_id=big).alias("wire"))
        .select(confluent_schema_id(F.col("wire")).alias("sid"))
        .collect()
    )
    assert out[0].sid == big
