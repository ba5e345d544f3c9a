#!/usr/bin/env python3
"""The paper's produce -> consume experiment, timed from outside.

Run from the repository root::

    python3 perfbench/run.py --workload kafka_avro_parse_1kb --seed 1 \
        --seconds 20 --trace 0

Each lap calls the producer app (``cli.run_app("PRODUTOR_*")``), waits
for it, checks what the sink stored, then calls the consumer app and
checks its report: a closed loop from one process, Spark ``local[1]``
or ``local[2]``.
Kafka workloads talk to an in-process loopback ``kafka_wire.StubBroker``
(a fresh one per lap); file workloads write a fresh directory per lap.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and prints the per-layer metrics (see layers.py).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds per-lap detail and the contention stamp. NOTES.md explains the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"
PARTITIONS = 18
SAMPLES_PER_LAP = 8
MIN_LAPS = 3
LAP_S = 7.0  # sizes the lap count: --seconds / LAP_S timed laps, at least MIN_LAPS


@dataclass(frozen=True)
class Workload:
    sink: str  # "kafka" or "file"
    fmt: str  # "avro" or "json"
    mode: str  # consumer BENCH_MODE
    kb: int  # TAMANHO_MENSAGEM_KB
    n: int  # messages per lap
    # Spark local[cpus]: fewer task slots than CPUs leave spare CPUs for
    # the JVM's own threads, the Python daemon, the in-process broker and
    # neighbour load, which makes runs far steadier (see NOTES.md)
    cpus: int
    warm_n: int  # messages in the untimed warm lap
    consumes: int = 1  # consumer calls per lap on what the producer stored

    @property
    def producer(self) -> str:
        return f"PRODUTOR_{self.fmt.upper()}"

    @property
    def consumer(self) -> str:
        return f"CONSUMIDOR_{self.fmt.upper()}"


WORKLOADS = {
    # the paper's reference sample ran on 2 CPUs
    "kafka_avro_parse_1kb": Workload(
        "kafka", "avro", "E2E_PARSE", 1, 10_000, cpus=2, warm_n=10_000),
    # CPU-bound end to end, so one task slot: with two, its runs followed
    # neighbour load twice as much. Its consumer is short and jittery next
    # to its producer, so each lap reads the stored dataset back twice.
    # Its first-use costs do not grow with the lap, so its warm lap is half size
    "file_avro_parse_64kb": Workload(
        "file", "avro", "E2E_PARSE", 64, 500, cpus=1, warm_n=250, consumes=2),
}

END_TO_END_UNITS = {
    "produce_msgs_per_s": "msg/s",
    "consume_msgs_per_s": "msg/s",
    "wire_bytes_per_msg": "B/msg",
    "failed_frac": "ratio",
    "setup_s": "s",
}


def _prepare_env(run_dir: Path, trace: bool, cpus: int) -> None:
    """Environment for the JVM and its Python workers: import path,
    parallelism, and every scratch directory inside the run directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(cpus, len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_AVRO_")]:
        del os.environ[key]  # default codec paths only
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # no hsperfdata file under the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


class Lap:
    """One produce -> consume cycle and its checks: one producer call,
    then ``consumes`` consumer calls on what it stored. ``faults`` counts
    missing, duplicated and wrong records plus failed app calls (a
    failed call counts all of its messages)."""

    def __init__(self, bench: "Bench", n: int, tag: str, consumes: int = 1):
        self.bench, self.n, self.tag, self.consumes = bench, n, tag, consumes
        self.produce_s = None
        self.consume_times: list[float] = []
        self.wire_bytes = 0
        self.faults = 0
        self.fault_kinds: dict[str, int] = {}

    @property
    def consume_s(self):
        """The first consumer call's wall time; None until every call ran."""
        return self.consume_times[0] if len(self.consume_times) == self.consumes else None

    @property
    def attempted(self) -> int:
        """Messages read back: each consumer call reads all ``n``."""
        return self.n * self.consumes

    def fault(self, kind: str, count: int) -> None:
        if count:
            self.faults += count
            self.fault_kinds[kind] = self.fault_kinds.get(kind, 0) + count

    def _app(self, app: str, path: str, cfg):
        from teste_carga_avro_vs_json_spark import cli

        b = self.bench
        if b.tracer.enabled:
            b.spark.sparkContext.setJobGroup(app, app)
        with b.tracer.span(app):
            t0 = time.perf_counter()
            report = cli.run_app(app, path, cfg, b.spark)
            return time.perf_counter() - t0, report

    def run(self, cfg, path: str, stored) -> "Lap":
        """Produce, check what ``stored()`` finds in the sink, then
        consume and check the report, ``consumes`` times. ``stored``
        returns (faults by kind, sampled ``(partition, seq, value)``
        records, bytes stored)."""
        from perfbench import check

        wl = self.bench.wl
        try:
            self.produce_s, _ = self._app(wl.producer, path, cfg)
            with self.bench.tracer.span("check.stored"):
                faults, sample, self.wire_bytes = stored()
                for kind, count in faults.items():
                    self.fault(kind, count)
                self.fault("wrong", check.wrong_records(sample, wl.fmt, wl.kb, PARTITIONS))
            for _ in range(self.consumes):
                consume_s, report = self._app(wl.consumer, path, cfg)
                self.fault("report", check.report_faults(
                    report, self.n, wl.kb, parse=wl.mode == "E2E_PARSE"))
                self.consume_times.append(consume_s)
        except Exception:  # noqa: BLE001 - a failed call is a counted failure
            print(f"[{self.tag}] lap failed:", file=sys.stderr)
            traceback.print_exc()
            self.fault("failed_call", self.n)
        return self


class Bench:
    def __init__(self, name: str, seed: int, run_dir: Path, tracer):
        self.name, self.wl = name, WORKLOADS[name]
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self._lap_no = 0

    def start_session(self) -> float:
        from teste_carga_avro_vs_json_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def _sample(self, counts: dict[int, int]) -> list[tuple[int, int]]:
        """Seeded (partition, offset-or-row) picks among stored records."""
        live = [p for p, c in sorted(counts.items()) if c > 0]
        picks = []
        for _ in range(SAMPLES_PER_LAP if live else 0):
            p = self.rng.choice(live)
            picks.append((p, self.rng.randrange(counts[p])))
        return picks

    def lap(self, n: int, tag: str, consumes: int = 1) -> Lap:
        from teste_carga_avro_vs_json_spark.config import EngineConfig

        self._lap_no += 1
        cfg = EngineConfig(
            total_mensagens=n, tamanho_mensagem_kb=self.wl.kb,
            num_particoes=PARTITIONS, bench_mode=self.wl.mode,
        )
        lap = Lap(self, n, tag, consumes)
        if self.wl.sink == "kafka":
            from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

            with self.tracer.span("broker.setup"):
                broker = StubBroker(num_partitions=PARTITIONS).__enter__()
            try:
                cfg.bootstrap_servers = "%s:%d" % broker.addr
                topic = cfg.topico_json if self.wl.fmt == "json" else cfg.topico_avro
                lap.run(cfg, "", lambda: self._kafka_stored(broker, topic, n))
            finally:
                broker.__exit__(None, None, None)
        else:
            path = self.run_dir / f"lap{self._lap_no}" / "ds"
            try:
                lap.run(cfg, str(path), lambda: self._file_stored(path, n))
            finally:
                shutil.rmtree(path.parent, ignore_errors=True)
        return lap

    def _kafka_stored(self, broker, topic: str, n: int):
        from perfbench import check
        from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
            EARLIEST, LATEST, WireKafkaClient,
        )

        client = WireKafkaClient(*broker.addr)
        try:
            counts = {
                p: client.list_offset(topic, p, LATEST) - client.list_offset(topic, p, EARLIEST)
                for p in client.partitions_for(topic)
            }
            sample = []
            for p, off in self._sample(counts):
                # one batch per fetch; keep the record at the picked offset
                _hw, recs = client.fetch(topic, p, off, max_bytes=1)
                for o, key, value in recs:
                    if o == off:
                        sample.append((p, check.seq_from_key(key), value))
                        break
                else:
                    sample.append((p, -1, b""))  # counted as wrong
        finally:
            client.close()
        # bytes the broker log holds: the StubBroker has no public size
        # accessor, so read its in-memory partition logs directly
        wire = sum(
            len(batch) for (t, _p), log in broker._logs.items() if t == topic
            for _base, batch in log.batches
        )
        missing, dup = check.count_faults(check.round_robin_counts(n, PARTITIONS), counts)
        return {"missing": missing, "duplicated": dup}, sample, wire

    def _file_stored(self, path: Path, n: int):
        import pyarrow.parquet as pq

        from perfbench import check

        seqs, counts, tables, wire = [], {}, {}, 0
        for part in sorted(path.glob("particao=*")):
            p = int(part.name.split("=", 1)[1])
            tables[p] = pq.read_table(part, columns=["sequencia", "value"])
            col = tables[p].column("sequencia").to_pylist()
            counts[p] = len(col)
            seqs += [(p, s) for s in col]
            wire += sum(f.stat().st_size for f in part.glob("part-*"))
        # every stored sequencia, not only counts: exact missing/duplicates
        missing, dup = check.sequence_faults([s for _p, s in seqs], n)
        misplaced = sum(1 for p, s in seqs if (s - 1) % PARTITIONS != p)
        sample = [
            (p, tables[p].column("sequencia")[i].as_py(), tables[p].column("value")[i].as_py())
            for p, i in self._sample(counts)
        ]
        return {"missing": missing, "duplicated": dup, "misplaced": misplaced}, sample, wire


def run_e2e(bench: Bench, seconds: int) -> tuple[dict, list[Lap], dict]:
    wl = bench.wl
    t0 = time.perf_counter()
    bench.start_session()
    laps = [bench.lap(wl.warm_n, "warm")]
    setup_s = time.perf_counter() - t0
    n_laps = max(MIN_LAPS, math.ceil(seconds / LAP_S))
    timed = [bench.lap(wl.n, f"lap{i}", wl.consumes) for i in range(n_laps)]
    laps += timed
    ok = [lap for lap in timed if lap.consume_s is not None]
    msgs = sum(lap.n for lap in ok)
    # work completed per second over all timed laps: total messages over
    # total app wall time, for each of the two apps
    consumed = sum(lap.attempted for lap in ok)
    metrics = {
        "produce_msgs_per_s": msgs / sum(lap.produce_s for lap in ok) if ok else 0.0,
        "consume_msgs_per_s": consumed / sum(
            t for lap in ok for t in lap.consume_times) if ok else 0.0,
        "wire_bytes_per_msg": sum(lap.wire_bytes for lap in ok) / msgs if ok else 0.0,
        "setup_s": setup_s,
    }
    detail = {"laps_timed": len(timed), "msgs_per_lap": wl.n,
              "consumes_per_lap": wl.consumes}
    return metrics, laps, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import teste_carga_avro_vs_json_spark.cli  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.probes import Contention, Tracer

    run_dir = OUT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, bool(args.trace), WORKLOADS[args.workload].cpus)
    contention = Contention()
    bench = Bench(args.workload, args.seed, run_dir, Tracer(False, f"{args.seed}"))
    try:
        if args.trace:
            from perfbench import layers

            metrics, laps, detail = layers.run_traced(bench)
            units = layers.UNITS
        else:
            metrics, laps, detail = run_e2e(bench, args.seconds)
            units = END_TO_END_UNITS
    finally:
        bench.stop()
    if args.trace:
        metrics.update(layers.spark_layer_metrics(run_dir / "eventlog"))
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(lap.attempted for lap in laps)
    failed = sum(lap.faults for lap in laps)
    if not args.trace:
        # add-one smoothing keeps the ratio defined (never 0) while any
        # single failure still at least doubles it; ``failed`` is the raw count
        metrics["failed_frac"] = (failed + 1) / (attempted + 1)
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "laps": [
            {"tag": lap.tag, "n": lap.n, "produce_s": lap.produce_s,
             "consume_s": lap.consume_times, "wire_bytes": lap.wire_bytes,
             "faults": lap.fault_kinds}
            for lap in laps
        ],
        "contention": contention.stamp(),
    })
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
