"""The ``log_store`` workload: one ``MarasaLog`` used as a database.

The store is bulk-loaded (untimed) from the event stream and compacted.
Each pass is then a seeded mix of appends, a delete, batched lookups,
single-key gets, ``latest(ns)`` scans and ``changes(since)`` reads from a
consumer offset (3 writes to 9 reads), followed by ``compact()``. One
client, closed loop.

Every read is checked against the benchmark's own model of what it
appended and deleted: ``model[ns][key]`` is the last value written, or
None after a delete.
"""

from __future__ import annotations

import os
import time
from collections import deque

from perfbench.inputs import EVENT_TYPES, RecordStream

PASS_MIX = ["append"] * 2 + ["delete"] + ["lookup"] * 3 + ["get"] * 3 + [
    "latest"
] * 2 + ["changes"]
# A pass has 13 ops; two passes give the timed window enough samples for a
# steady median.
MIN_PASSES = 2
LOOKUP_KEYS = 50
DELETE_KEYS = 20


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class LogStoreWorkload:
    def __init__(
        self,
        spark,
        tracer,
        store_dir: str,
        seed: int,
        bulk_records: int,
        batch_size: int,
        corrupt_model: bool = False,
    ):
        self.spark = spark
        self.tracer = tracer
        self.store_dir = store_dir
        self.stream = RecordStream(seed, bulk_records)
        self.batch_size = batch_size
        self.corrupt_model = corrupt_model
        self.min_passes = MIN_PASSES
        self.model: dict[str, dict[str, str | None]] = {ns: {} for ns in EVENT_TYPES}
        self.live: dict[str, list[str]] = {ns: [] for ns in EVENT_TYPES}
        self.recent: dict[str, deque] = {ns: deque(maxlen=2) for ns in EVENT_TYPES}
        self.journal: list[tuple[int, list[tuple]]] = []  # (high-water after, records)
        self.hw = 0
        self.offset = 0
        self.tail_rows = 0
        self.user_bytes = 0
        self.check_s = 0.0
        # counted during the traced pass only
        self.asked = self.found = self.conflicts = 0
        self.tail_seen: list[int] = []
        self.files_added: list[int] = []

    # -- set-up ---------------------------------------------------------------

    def prepare(self) -> None:
        from marasa_spark.log import MarasaLog

        self.log = MarasaLog(self.spark, self.store_dir)
        bulk = self.stream.bulk()
        self.hw = self.log.append(self.spark.createDataFrame(bulk))
        # the fold keeps the last record per (ns, key) in (ts, value) order
        last: dict[tuple[str, str], tuple] = {}
        for ns, key, ts, value in zip(
            *(bulk[c].to_pylist() for c in ("ns", "key", "ts", "value"))
        ):
            if (ns, key) not in last or (ts, value) > last[(ns, key)]:
                last[(ns, key)] = (ts, value)
        for (ns, key), (_ts, value) in sorted(last.items()):
            self.model[ns][key] = value
            self.live[ns].append(key)
        self.user_bytes += self._record_bytes(bulk)
        self.log.compact()
        self.offset = self.hw
        if self.corrupt_model:
            for ns in EVENT_TYPES:  # a deliberately wrong model value per namespace
                self.model[ns][self.live[ns][0]] = "wrong"

    @staticmethod
    def _record_bytes(table) -> int:
        """User bytes of a record batch: ns + key + value + an 8-byte ts."""
        return sum(
            len(ns) + len(key) + len(value or "") + 8
            for ns, key, value in zip(
                *(table[c].to_pylist() for c in ("ns", "key", "value"))
            )
        )

    # -- passes ---------------------------------------------------------------

    def run_pass(self, pass_no: int, warmup: bool = False) -> list[dict]:
        """The seeded op mix, then ``compact()``. The warm-up pass runs each
        kind of op once. It needs its own append: the bulk load's does not
        warm the path, and without one the first timed appends ran slow."""
        mix = sorted(set(PASS_MIX)) if warmup else PASS_MIX
        out = [self._run_op(kind, pass_no) for kind in self.stream.shuffled(mix)]
        out.append(self._run_op("compact", pass_no))
        return out

    def _run_op(self, kind: str, pass_no: int) -> dict:
        from marasa_spark.log import LogWriteConflict

        rec = {"op": kind, "kind": kind, "pass": pass_no, "ok": False, "error": None}
        try:
            rec["ok"], rec["error"], rec["latency_s"] = getattr(self, f"_{kind}")()
        except LogWriteConflict as e:
            self.conflicts += 1
            rec["error"] = f"LogWriteConflict: {e}"
        except Exception as e:  # one failed op is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        return rec

    def _timed(self, kind: str, call):
        with self.tracer.span(f"op.{kind}", op=kind):
            t0 = time.perf_counter()
            out = call()
            return out, time.perf_counter() - t0

    def _collect(self, df):
        from marasa_spark.collect import collect_arrow

        with self.tracer.span("collect.arrow", group=True) as span:
            table = collect_arrow(df)
        if span is not None:
            span["rows"], span["bytes"] = table.num_rows, table.nbytes
        return table

    def _write(self, kind: str, records: list[tuple], call):
        files_before = dir_bytes(self.store_dir)[1] if self.tracer.enabled else 0
        hw, latency = self._timed(kind, call)
        t1 = time.perf_counter()
        if self.tracer.enabled and kind == "append":
            self.files_added.append(dir_bytes(self.store_dir)[1] - files_before)
        want = self.hw + len(records)
        self.hw = want
        self.journal.append((want, records))
        self.tail_rows += len(records)
        for ns, key, value in records:
            if value is None:
                self.live[ns].remove(key)
            elif self.model[ns].get(key) is None:
                self.live[ns].append(key)
            self.model[ns][key] = value
        self.check_s += time.perf_counter() - t1
        if hw != want:
            return False, f"{kind} returned high-water {hw}, expected {want}", latency
        return True, None, latency

    def _append(self):
        batch = self.stream.batch(self.batch_size, self.live)
        records = list(zip(*(batch[c].to_pylist() for c in ("ns", "key", "value"))))
        self.user_bytes += self._record_bytes(batch)
        for ns in EVENT_TYPES:
            self.recent[ns].append([k for n, k, _ in records if n == ns])
        df = self.spark.createDataFrame(batch)
        return self._write("append", records, lambda: self.log.append(df))

    def _delete(self):
        ns = self.stream.namespace()
        keys = sorted(self.stream.choose(self.live[ns], DELETE_KEYS))
        records = [(ns, k, None) for k in keys]
        self.user_bytes += sum(len(ns) + len(k) + 8 for k in keys)
        return self._write("delete", records, lambda: self.log.delete(ns, keys))

    def _read_keys(self, ns: str, n: int) -> list[str]:
        """Half recent (from the last batches), half uniform over every key
        ever written to ``ns`` (deleted ones included), plus two never
        written."""
        recent = [k for batch in self.recent[ns] for k in batch]
        keys = self.stream.choose(recent, n // 2)
        keys += self.stream.choose(list(self.model[ns]), n - len(keys) - 2)
        keys += [self.stream.unwritten_key(), self.stream.unwritten_key()]
        return sorted(set(keys))

    def _expect(self, ns: str, keys) -> dict[str, str]:
        m = self.model[ns]
        return {k: m[k] for k in keys if m.get(k) is not None}

    def _lookup(self):
        ns = self.stream.namespace()
        keys = self._read_keys(ns, LOOKUP_KEYS)
        table, latency = self._timed("lookup", lambda: self._collect(self.log.lookup(ns, keys)))
        got = dict(zip(table["key"].to_pylist(), table["value"].to_pylist()))
        return self._compare("lookup", ns, keys, got, table.num_rows, latency)

    def _get(self):
        ns = self.stream.namespace()
        key = self.stream.shuffled(self._read_keys(ns, 10))[0]
        value, latency = self._timed("get", lambda: self.log.get(ns, key))
        got = {} if value is None else {key: value}
        return self._compare("get", ns, [key], got, len(got), latency)

    def _latest(self):
        ns = self.stream.namespace()
        table, latency = self._timed("latest", lambda: self._collect(self.log.latest(ns)))
        got = dict(zip(table["key"].to_pylist(), table["value"].to_pylist()))
        return self._compare("latest", ns, list(self.model[ns]), got, table.num_rows, latency)

    def _compare(self, kind, ns, keys, got, nrows, latency):
        t1 = time.perf_counter()
        want = self._expect(ns, keys)
        if self.tracer.enabled:
            if kind in ("lookup", "get"):
                self.asked += len(keys)
                self.found += len(got)
            self.tail_seen.append(self.tail_rows)
        self.check_s += time.perf_counter() - t1
        if nrows != len(got) or got != want:
            wrong = sorted(set(got.items()) ^ set(want.items()))[:3]
            return False, f"{kind}({ns}) differs from the model, e.g. {wrong}", latency
        return True, None, latency

    def _changes(self):
        since = self.offset
        table, latency = self._timed("changes", lambda: self._collect(self.log.changes(since)))
        t1 = time.perf_counter()
        got = sorted(
            zip(*(table[c].to_pylist() for c in ("ns", "key", "value"))),
            key=repr,
        )
        want = sorted((r for hw, recs in self.journal if hw > since for r in recs), key=repr)
        seqnos = table["seqno"].to_pylist()
        self.offset = self.hw
        self.check_s += time.perf_counter() - t1
        if got != want or (seqnos and (min(seqnos) <= since or max(seqnos) > self.hw)):
            return False, f"changes({since}) differ from the journal", latency
        return True, None, latency

    def _compact(self):
        s, latency = self._timed("compact", self.log.compact)
        self.tail_rows = 0
        if s != self.hw:
            return False, f"compact returned {s}, expected {self.hw}", latency
        return True, None, latency

    # -- end of run -----------------------------------------------------------

    def final_check(self) -> tuple[bool, str | None]:
        """The whole current state against the model."""
        from marasa_spark.collect import collect_arrow

        table = collect_arrow(self.log.latest())
        got = {
            (ns, k): v
            for ns, k, v in zip(*(table[c].to_pylist() for c in ("ns", "key", "value")))
        }
        want = {
            (ns, k): v for ns, m in self.model.items() for k, v in m.items() if v is not None
        }
        if table.num_rows != len(got) or got != want:
            return False, f"final latest() differs from the model ({len(got)} vs {len(want)} keys)"
        return True, None

    def store_stats(self) -> dict:
        stored, files = dir_bytes(self.store_dir)
        txn = os.path.join(self.store_dir, "_txn")
        return {
            "stored_bytes": stored,
            "files": files,
            "txn_entries": len(os.listdir(txn)) if os.path.isdir(txn) else 0,
            "user_bytes": self.user_bytes,
            "high_water": self.hw,
        }
