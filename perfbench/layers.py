"""Per-layer metrics for ``--trace 1``.

The traced run sets up like the end-to-end run, times a lap with spans
and Spark job groups between two untraced laps (the difference is the
tracing overhead), then times each layer on the same input:

- Spark jobs through the ``noop`` sink on successive prefixes of the
  apps' plans; a layer's self time is the difference between the prefix
  that ends with it and the prefix before it;
- direct driver-side calls on a fixed input (codec batches, record-batch
  framing, CRC32C, produce/fetch round trips to a StubBroker);
- Spark's event log, summed per job group of the traced lap's two app
  calls.

Every timed call is wrapped in a span; the spans go out with the detail
line. A layer that a workload does not use reports 0.
"""

from __future__ import annotations

import shutil
import time
from statistics import median

from perfbench.probes import SPARK_METRICS, percentile, spark_metrics_by_group
from perfbench.run import PARTITIONS

RTT_SAMPLES = 100  # p90 is the highest percentile with 10 samples beyond it
BATCH_RECORDS = 500  # the kafka_wire sink's default batch_size
MICRO_REPS = 5
NOOP_REPS = 2  # min of two: the first run of a new plan also pays its codegen
MICRO_BYTES = 2_000_000  # raw message volume of the codec micro input

_PHASES = {"produce": "PRODUTOR", "consume": "CONSUMIDOR"}

UNITS = {
    "session.start_s": "s",
    "driver.plan_build_s": "s",
    "generator.job_s": "s",
    "avro.encode_job_s": "s",
    "avro.decode_job_s": "s",
    "avro_vec.encode_batch_mb_per_s": "MB/s",
    "avro_vec.decode_batch_mb_per_s": "MB/s",
    "json.encode_job_s": "s",
    "kafka_wire.encode_record_batch_ms": "ms",
    "kafka_wire.crc32c_mb_per_s": "MB/s",
    "kafka_wire.decode_record_batches_ms": "ms",
    "kafka_wire.produce_rtt_ms.p50": "ms",
    "kafka_wire.produce_rtt_ms.p90": "ms",
    "kafka_wire.fetch_rtt_ms.p50": "ms",
    "kafka_wire.fetch_rtt_ms.p90": "ms",
    "kafka_wire.batches": "count",
    "kafka_wire.records_per_batch": "count",
    "kafka_wire_source.sink_s": "s",
    "io_kafka.fetch_job_s": "s",
    "io_kafka.fetch_mb_per_s": "MB/s",
    "io_files.write_s": "s",
    "io_files.read_s": "s",
    "metrics.producer_report_s": "s",
    "metrics.consumer_report_s": "s",
    **{
        f"spark.{phase}.{m}": ("count" if m == "tasks_failed" else "MB" if m.endswith("_mb") else "s")
        for phase in _PHASES for m in SPARK_METRICS
    },
    "trace.untraced_lap_s": "s",
    "trace.traced_lap_s": "s",
    "trace.overhead_s": "s",
}


class _Layers:
    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.tracer = bench.tracer

    def plan(self, name: str, build):
        """Time a lazy plan-builder call (driver-side, mostly py4j)."""
        with self.tracer.span("plan." + name):
            return build()

    def job(self, name: str, action, reps: int = 1) -> float:
        """Run one Spark action ``reps`` times under its own job group,
        one span each; returns the fastest."""
        self.spark.sparkContext.setJobGroup(name, name)
        times = []
        for _ in range(reps):
            with self.tracer.span("job." + name):
                t0 = time.perf_counter()
                action()
                times.append(time.perf_counter() - t0)
        return min(times)

    def noop(self, name: str, df) -> float:
        return self.job(name, lambda: df.write.format("noop").mode("overwrite").save(),
                        reps=NOOP_REPS)

    def micro(self, name: str, fn, reps: int = MICRO_REPS):
        """Median wall of ``reps`` direct calls; returns (seconds, result)."""
        times = []
        for _ in range(reps):
            with self.tracer.span("call." + name):
                t0 = time.perf_counter()
                out = fn()
                times.append(time.perf_counter() - t0)
        return median(times), out


def run_traced(bench):
    wl = bench.wl
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = bench.start_session()
    laps = [bench.lap(wl.n, "warm"), bench.lap(wl.n, "untraced")]
    bench.tracer.enabled = True
    traced = bench.lap(wl.n, "traced")
    bench.tracer.enabled = False
    bench.spark.sparkContext.setJobGroup("untraced", "untraced")
    laps += [traced, bench.lap(wl.n, "untraced")]
    if any(lap.consume_s is None for lap in laps):
        return m, laps, {"spans": bench.tracer.spans}
    # untraced laps bracket the traced one, so warm-up drift cancels
    untraced = [lap.produce_s + lap.consume_s for lap in (laps[1], laps[3])]
    m["trace.untraced_lap_s"] = sum(untraced) / 2
    m["trace.traced_lap_s"] = traced.produce_s + traced.consume_s
    m["trace.overhead_s"] = m["trace.traced_lap_s"] - m["trace.untraced_lap_s"]
    bench.tracer.enabled = True

    lay = _Layers(bench)
    _layer_jobs(lay, wl, m, traced)
    m["driver.plan_build_s"] = sum(
        s["end"] - s["start"] for s in bench.tracer.spans if s["name"].startswith("plan.")
    )
    return m, laps, {"msgs_per_lap": wl.n, "spans": bench.tracer.spans}


def _layer_jobs(lay, wl, m, traced):
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro
    from teste_carga_avro_vs_json_spark.sources import generator

    spark, n = lay.spark, wl.n
    msgs = lay.plan("generator", lambda: generator.mensagens(spark, n, wl.kb))
    struct = F.struct("id", "timestamp", "sequencia", "dados", "versao")
    avro_value = lay.plan("avro_encode", lambda: to_avro(struct))
    # the JSON producer's encoder (JVM to_json) on the same rows
    json_value = F.encode(F.to_json(struct), "UTF-8")

    gen_s = lay.noop("generator", msgs)
    json_s = lay.noop("json_encode", msgs.select(json_value.alias("v")))
    enc_s = lay.noop("avro_encode", msgs.select(avro_value.alias("v")))
    m["generator.job_s"] = gen_s
    m["json.encode_job_s"] = json_s - gen_s
    m["avro.encode_job_s"] = enc_s - gen_s
    _codec_micro(lay, wl, m)
    if wl.sink == "kafka":
        _kafka(lay, wl, m, traced, msgs, avro_value)
    else:
        _files(lay, wl, m, traced, msgs, enc_s)


def _codec_micro(lay, wl, m):
    """avro_vec batch encode/decode on a fixed ~2 MB message batch."""
    import pyarrow as pa

    from teste_carga_avro_vs_json_spark.functions import avro_vec
    from teste_carga_avro_vs_json_spark.sources import generator

    count = max(1, MICRO_BYTES // (wl.kb * 1024))
    table = generator.mensagens(lay.spark, count, wl.kb).toArrow().combine_chunks()
    arr = pa.StructArray.from_arrays(
        [c.chunk(0) for c in table.columns], names=table.column_names
    )
    enc_t, enc = lay.micro("avro_vec.encode_batch", lambda: avro_vec.encode_batch(arr))
    dec_t, _ = lay.micro("avro_vec.decode_batch", lambda: avro_vec.decode_batch(enc))
    mb = enc.nbytes / 1e6
    m["avro_vec.encode_batch_mb_per_s"] = mb / enc_t
    m["avro_vec.decode_batch_mb_per_s"] = mb / dec_t
    lay.encoded_values = enc.to_pylist()


def _kafka(lay, wl, m, traced, msgs, value):
    from teste_carga_avro_vs_json_spark.config import EngineConfig
    from teste_carga_avro_vs_json_spark.operators import serde
    from teste_carga_avro_vs_json_spark.sources import io_kafka, kafka_wire
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

    spark, n = lay.spark, wl.n
    topic = EngineConfig().topico_avro
    wire = lay.plan("wire_frame", lambda: io_kafka.to_wire_frame(msgs, value, PARTITIONS))
    frame_s = lay.noop("wire_frame", wire)
    with StubBroker(num_partitions=PARTITIONS) as broker:
        bootstrap = "%s:%d" % broker.addr
        write_s = lay.job("kafka_wire_sink", lambda: (
            wire.write.format("kafka_wire").option("bootstrap", bootstrap)
            .option("topic", topic).mode("append").save()
        ))
        m["kafka_wire_source.sink_s"] = write_s - frame_s
        m["metrics.producer_report_s"] = traced.produce_s - write_s
        # batch layout as the sink left it (StubBroker has no public accessor)
        batches = [b for (t, _p), log in broker._logs.items() if t == topic for _o, b in log.batches]
        m["kafka_wire.batches"] = len(batches)
        m["kafka_wire.records_per_batch"] = n / max(len(batches), 1)
        wire_mb = sum(len(b) for b in batches) / 1e6

        raw = lay.plan("io_kafka_source", lambda: io_kafka.read_kafka_wire_batch(
            spark, bootstrap, topic, target_total=n))
        decoded = lay.plan("avro_decode", lambda: serde.avro_decode(
            raw.withColumnRenamed("value", "valor_avro")))
        fetch_s = lay.noop("io_kafka_fetch", raw)
        dec_s = lay.noop("decode", decoded)
        m["io_kafka.fetch_job_s"] = fetch_s
        m["io_kafka.fetch_mb_per_s"] = wire_mb / fetch_s
        m["avro.decode_job_s"] = dec_s - fetch_s
        m["metrics.consumer_report_s"] = traced.consume_s - dec_s

    # direct client calls: framing, CRC32C, decode, round trips
    recs = [(b"msg-%d" % i, v) for i, v in enumerate(lay.encoded_values[:BATCH_RECORDS])]
    enc_t, batch = lay.micro("kafka_wire.encode_record_batch",
                             lambda: kafka_wire.encode_record_batch(recs))
    crc_t, _ = lay.micro("kafka_wire.crc32c", lambda: kafka_wire.crc32c(batch))
    dec_t, _ = lay.micro("kafka_wire.decode_record_batches",
                         lambda: kafka_wire.decode_record_batches(batch))
    m["kafka_wire.encode_record_batch_ms"] = enc_t * 1e3
    m["kafka_wire.crc32c_mb_per_s"] = len(batch) / 1e6 / crc_t
    m["kafka_wire.decode_record_batches_ms"] = dec_t * 1e3
    with StubBroker(num_partitions=PARTITIONS) as broker:
        client = kafka_wire.WireKafkaClient(*broker.addr)
        try:
            produce, fetch = [], []
            for i in range(RTT_SAMPLES):
                t, _ = lay.micro("kafka_wire.produce",
                                 lambda: client.produce("rtt", i % PARTITIONS, recs), reps=1)
                produce.append(t * 1e3)
            for i in range(RTT_SAMPLES):
                off = (i // PARTITIONS) * len(recs)
                t, _ = lay.micro("kafka_wire.fetch", lambda: client.fetch(
                    "rtt", i % PARTITIONS, off, max_bytes=1), reps=1)
                fetch.append(t * 1e3)
        finally:
            client.close()
    m["kafka_wire.produce_rtt_ms.p50"] = percentile(produce, 50)
    m["kafka_wire.produce_rtt_ms.p90"] = percentile(produce, 90)
    m["kafka_wire.fetch_rtt_ms.p50"] = percentile(fetch, 50)
    m["kafka_wire.fetch_rtt_ms.p90"] = percentile(fetch, 90)


def _files(lay, wl, m, traced, msgs, enc_s):
    from teste_carga_avro_vs_json_spark.sources import io_files

    spark = lay.spark
    path = lay.bench.run_dir / "layers" / "ds"
    try:
        write_s = lay.job("io_files_write", lambda: io_files.write_avro(
            msgs, str(path), PARTITIONS, "lz4"))
        m["io_files.write_s"] = write_s - enc_s
        m["metrics.producer_report_s"] = traced.produce_s - write_s
        raw = lay.plan("io_files_source", lambda: spark.read.parquet(str(path)).select("value"))
        decoded = lay.plan("avro_decode", lambda: io_files.read_avro(spark, str(path)))
        read_s = lay.noop("io_files_read", raw)
        dec_s = lay.noop("decode", decoded)
        m["io_files.read_s"] = read_s
        m["avro.decode_job_s"] = dec_s - read_s
        m["metrics.consumer_report_s"] = traced.consume_s - dec_s
    finally:
        shutil.rmtree(path.parent, ignore_errors=True)


def spark_layer_metrics(log_dir) -> dict:
    """spark.<phase>.<metric> from the traced lap's app job groups."""
    groups = spark_metrics_by_group(log_dir)
    out = {}
    for phase, prefix in _PHASES.items():
        summed = dict.fromkeys(SPARK_METRICS, 0.0)
        for group, vals in groups.items():
            if group.startswith(prefix):
                for k, v in vals.items():
                    summed[k] += v
        out.update({f"spark.{phase}.{k}": v for k, v in summed.items()})
    return out
