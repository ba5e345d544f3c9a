"""The codec and source names the benchmark (``perfbench/``) imports
still resolve, and still accept the arguments it calls them with.

``perfbench/`` is frozen between benchmark changes, so a rename or a
signature change in these modules would break the benchmark without
breaking any other test. Each call below mirrors a call site in
``perfbench/layers.py``, ``perfbench/check.py`` or
``perfbench/test_check.py``."""

import pyarrow as pa
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.functions import avro_codec, avro_vec
from teste_carga_avro_vs_json_spark.sources import generator, io_kafka
from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker, WireKafkaClient

_STRUCT_COLS = ("id", "timestamp", "sequencia", "dados", "versao")


def test_avro_codec_names(spark):
    msgs = generator.mensagens(spark, 4, tamanho_kb=1)
    struct = F.struct(*_STRUCT_COLS)
    got = msgs.select("sequencia", avro_codec.to_avro(struct).alias("v")).collect()
    rows = {r.sequencia: r.asDict(recursive=True) for r in msgs.collect()}
    for r in got:
        value = bytes(r.v)
        assert avro_codec.encode_mensagem(rows[r.sequencia]) == value
        assert avro_codec.decode_mensagem(value) == rows[r.sequencia]


def test_avro_vec_names(spark):
    table = generator.mensagens(spark, 4, tamanho_kb=1).toArrow().combine_chunks()
    arr = pa.StructArray.from_arrays(
        [c.chunk(0) for c in table.columns], names=table.column_names
    )
    enc = avro_vec.encode_batch(arr)
    assert enc.to_pylist() == [avro_codec.encode_mensagem(m) for m in arr.to_pylist()]
    assert avro_vec.decode_batch(enc).to_pylist() == arr.to_pylist()
    assert isinstance(avro_vec._TALL_MSG_BYTES, int) and avro_vec._TALL_MSG_BYTES > 0


def test_read_kafka_wire_batch_call(spark):
    n, parts = 6, 2
    with StubBroker(num_partitions=parts) as broker:
        client = WireKafkaClient(*broker.addr)
        try:
            for p in range(parts):
                client.produce(
                    "carga", p, [(b"msg-%d" % i, b"v%d" % i) for i in range(n // parts)]
                )
        finally:
            client.close()
        bootstrap = "%s:%d" % broker.addr
        raw = io_kafka.read_kafka_wire_batch(spark, bootstrap, "carga", target_total=n)
        rows = raw.select("partition", "offset", "value").collect()
    assert sorted((r.partition, r.offset) for r in rows) == [
        (p, o) for p in range(parts) for o in range(n // parts)
    ]
