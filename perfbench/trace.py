"""In-memory spans around calls into the engine's layers.

A :class:`Tracer` patches public methods of ``SnapshotStore`` and
``CrawlEngine`` (and the benchmark times each catalog query itself) so every
call becomes a span with a name, start, end and parent. Spans stay in memory
and are written out once, when the run ends. Counts are taken at the same
boundaries from parquet footers and directory walks on the driver — never
from extra Spark jobs — so tracing adds no work to the engine's plans.

Parents: a span's parent is the innermost open span on its own thread; a
span opened on a worker thread with nothing open there (the engine's
concurrent sinks) takes the innermost open span of the main thread, which
is the epoch that submitted it.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

#: store table → span name of the layer that owns its writes
_WRITE_LAYER = {
    "url_seen": "seen.url_seen_write",
    "blooms": "seen.filter_write",
    "cuckoos": "seen.filter_write",
    "refcounts": "refcounts.write",
    "documents": "embed.documents_write",
    "frontier": "frontier.write",
}

#: scratch table → span name of the layer whose plan it materializes
_MATERIALIZE_LAYER = {
    "selected_epoch": "politeness.select",
    "extracted_epoch": "extract",
    # an epoch over hosts never crawled pins its extracted ids as added_epoch
    # without a diff; _after_engine_call renames that span (no removed_epoch)
    "added_epoch": "seen.diff",
    "removed_epoch": "seen.diff",
}

#: tables whose written bytes are reported per layer
BYTES_TABLES = ("frontier", "url_seen", "blooms", "refcounts", "documents",
                "seeds", "robots", "metrics")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident
        self._patched: list[tuple[type, str, object]] = []
        self._scratch_written: set[str] = set()
        #: time the wrappers spend outside the calls they wrap
        self.overhead_s = 0.0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            parent = stack[-1] if stack else None
            if parent is None and tid != self._main:
                main_stack = self._stacks.get(self._main) or []
                parent = main_stack[-1] if main_stack else None
            sp = Span(len(self.spans), name, time.perf_counter(),
                      parent=None if parent is None else parent.id,
                      thread=threading.current_thread().name, attrs=attrs)
            self.spans.append(sp)
            stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            with self._lock:
                self._stacks[tid].remove(sp)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    # -- patching ----------------------------------------------------------

    def _patch(self, cls: type, method: str, wrapper_factory) -> None:
        orig = getattr(cls, method)
        self._patched.append((cls, method, orig))
        setattr(cls, method, wrapper_factory(orig))

    def install(self) -> None:
        """Wrap the store's action methods and the engine's epoch-loop
        methods. :meth:`uninstall` restores the originals."""
        from crawler_spark.crawl import CrawlEngine
        from crawler_spark.sources.tables import SnapshotStore

        tracer = self

        def store_call(method: str, name_of):
            def factory(orig):
                def wrapped(store, *args, **kwargs):
                    if not tracer.enabled:
                        return orig(store, *args, **kwargs)
                    t0 = time.perf_counter()
                    table = next((a for a in args if isinstance(a, str)), "?")
                    with tracer.span(name_of(table), table=table, op=method):
                        t1 = time.perf_counter()
                        out = orig(store, *args, **kwargs)
                        inner = time.perf_counter() - t1
                    tracer._after_store_call(store, method, table, args)
                    tracer._add_overhead(time.perf_counter() - t0 - inner)
                    return out
                return wrapped
            return factory

        self._patch(SnapshotStore, "materialize", store_call(
            "materialize", lambda t: _MATERIALIZE_LAYER.get(t, f"store.materialize.{t}")))
        for m in ("replace_buckets", "replace_buckets_task_write"):
            self._patch(SnapshotStore, m, store_call(
                m, lambda t: _WRITE_LAYER.get(t, f"store.write.{t}")))
        self._patch(SnapshotStore, "write", store_call(
            "write", lambda t: f"store.write.{t}"))
        self._patch(SnapshotStore, "append", store_call(
            "append", lambda t: "store.metrics_append" if t == "metrics" else f"store.append.{t}"))
        self._patch(SnapshotStore, "commit", store_call("commit", lambda t: "store.commit"))

        def engine_call(span_name: str, is_epoch: bool = False):
            def factory(orig):
                def wrapped(engine, *args, **kwargs):
                    if not tracer.enabled:
                        return orig(engine, *args, **kwargs)
                    t0 = time.perf_counter()
                    before = engine.store.read_manifest()["tables"]
                    tracer._scratch_written.clear()
                    with tracer.span(span_name) as sp:
                        t1 = time.perf_counter()
                        out = orig(engine, *args, **kwargs)
                        inner = time.perf_counter() - t1
                    tracer._after_engine_call(engine, before, out if is_epoch else None, sp)
                    # the store-call wrappers inside account for themselves
                    tracer._add_overhead(time.perf_counter() - t0 - inner)
                    return out
                return wrapped
            return factory

        self._patch(CrawlEngine, "bootstrap", engine_call("crawl.bootstrap"))
        self._patch(CrawlEngine, "discover", engine_call("crawl.discover"))
        self._patch(CrawlEngine, "add_manual_files", engine_call("crawl.manual_add"))
        self._patch(CrawlEngine, "run_epoch", engine_call("crawl.epoch", is_epoch=True))

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    # -- counts at layer boundaries (driver-side file reads only) ------------

    def _after_store_call(self, store, method: str, table: str, args) -> None:
        if method == "materialize":
            self._scratch_written.add(table)
        elif method == "append":
            label = args[2] if len(args) > 2 else "?"
            self.count(f"store.bytes_written.{table}",
                       dir_bytes(store.root / table / f"a{label}"))

    def _after_engine_call(self, engine, before: dict, rep, sp: Span) -> None:
        from crawler_spark.operators.frontier import epoch_ts

        store = engine.store
        after = store.read_manifest()["tables"]
        new_dirs = _new_version_dirs(store.root, before, after)
        for table, dirs in new_dirs.items():
            self.count(f"store.bytes_written.{table}", sum(dir_bytes(d) for d in dirs))
        if rep is None or rep.selected == 0:
            return
        written = self._scratch_written
        if "removed_epoch" not in written:
            for s in self.spans:
                if s.parent == sp.id and s.attrs.get("table") == "added_epoch":
                    s.name = "store.materialize.added_epoch"
        self.count("politeness.epochs", 1)
        self.count("politeness.files_selected", rep.selected)
        if "extracted_epoch" in written:
            self.count("extract.rows", store.scratch_rows("extracted_epoch"))
        if "added_epoch" in written:
            self.count("seen.ids_added", store.scratch_rows("added_epoch"))
        if "removed_epoch" in written:
            self.count("seen.ids_removed", store.scratch_rows("removed_epoch"))
        doc_dirs = new_dirs.get("documents", [])
        docs_written = sum(_parquet_rows(d) for d in doc_dirs)
        docs_new = sum(_rows_with_ts(d, epoch_ts(rep.epoch)) for d in doc_dirs)
        self.count("embed.docs_written_rows", docs_written)
        self.count("embed.docs_new_rows", docs_new)
        sp.attrs.update(epoch=rep.epoch, selected=rep.selected,
                        docs_written=docs_written, docs_new=docs_new)

    # -- reporting ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]])
            out[s.id] = (s.end - s.start) - covered
        return out

    def layer_seconds(self) -> dict[str, float]:
        """Self time summed per span name. The self time of ``crawl.epoch``
        is the epoch's driver time: its wall minus every store call it made,
        on its own thread or on the sink pools it waits for."""
        selft = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += selft[s.id]
        return dict(out)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "spans": [asdict(s) for s in self.spans],
            "counts": dict(self.counts),
        }))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def version_dirs(root: Path, table: str, version) -> list[Path]:
    """Directories of one committed version of ``table``, in the store's
    documented layout: ``<table>/v<n>``, or ``<table>/b<bucket>/v<n>`` for
    each bucket of a bucket map."""
    if isinstance(version, dict):
        return [Path(root) / table / f"b{int(b):05d}" / f"v{int(v)}"
                for b, v in version["buckets"].items()]
    return [Path(root) / table / f"v{int(version)}"]


def _new_version_dirs(root: Path, before: dict, after: dict) -> dict[str, list[Path]]:
    """Directories of the table versions a call committed, from the
    manifest before and after it."""
    out: dict[str, list[Path]] = {}
    for table, ver in after.items():
        old = before.get(table)
        if ver == old:
            continue
        if isinstance(ver, dict):
            old_b = old["buckets"] if isinstance(old, dict) else {}
            ver = {"buckets": {b: v for b, v in ver["buckets"].items() if old_b.get(b) != v}}
        out[table] = version_dirs(root, table, ver)
    return out


def _parquet_rows(d: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in d.glob("*.parquet"))


def _rows_with_ts(d: Path, ts) -> int:
    """Rows of a documents bucket stamped with ``ts`` — the docs an epoch
    inserted, as opposed to the old rows it rewrote."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    want = int(ts.timestamp() * 1_000_000)
    n = 0
    for f in d.glob("*.parquet"):
        col = pq.read_table(f, columns=["timestamp"]).column("timestamp")
        micros = pc.cast(col, pa.timestamp("us", tz="UTC")).cast(pa.int64())
        n += pc.sum(pc.equal(micros, want)).as_py() or 0
    return n
