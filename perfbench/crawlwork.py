"""The crawl workload: a cold crawl from seeds, then a churn re-crawl.

Both phases run ``CrawlEngine`` to fixed point over a corpus from
``sources.synth.corpus_pages_df``: one hot site with ``hot_files`` files and
``n_sites - 1`` normal sites with ``files`` files each, ``ids`` schema.org
objects per file. The per-host budget equals the hot site's file count, so
each crawl to fixed point is one epoch over every site (then the empty
fixed-point probe).

The benchmark models the corpus on the driver as a :class:`Corpus` — which
files are listed and which item range each file holds — and derives every
expected value of the correctness gate from that model and the generator's
own ``make_object``; the engine only ever sees the generated DataFrames.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.trace import dir_bytes, version_dirs

USER = "test:user001"  # seeds_df's default user
#: pages each normal site has beyond its listed files, for sitemap adds
EXTRA_FILES = 1


@dataclass(frozen=True)
class Shape:
    n_sites: int
    files: int       # files per normal site
    ids: int         # schema.org objects per file
    hot_files: int   # files of the hot site (site 0) == per-host budget


@dataclass
class Corpus:
    """Driver-side model: (site, chunk) → item range of every listed file."""
    shape: Shape
    seed: int
    files: dict[tuple[int, int], tuple[int, int]] = field(default_factory=dict)

    @classmethod
    def base(cls, shape: Shape, seed: int) -> Corpus:
        c = cls(shape, seed)
        for s in range(shape.n_sites):
            for ch in range(shape.hot_files if s == 0 else shape.files):
                c.files[(s, ch)] = (0, shape.ids)
        return c

    def churned(self, rng: np.random.Generator) -> tuple[Corpus, dict]:
        """Seeded churn: a fifth of the normal sites drop one listed file
        from their sitemap, another fifth list their unlisted page, and a
        quarter of the live files — one of them on the hot site — get new
        ids (their item window slides by a quarter). The seed picks which;
        the amounts are fixed. Returns the new model and a summary."""
        sh = self.shape
        out = Corpus(sh, self.seed, dict(self.files))
        normal = list(range(1, sh.n_sites))
        k = max(1, len(normal) // 5)
        picked = rng.permutation(normal)
        droppers, adders = picked[:k], picked[k:2 * k]
        dropped = []
        for s in droppers:
            ch = int(rng.integers(0, sh.files))
            del out.files[(int(s), ch)]
            dropped.append((int(s), ch))
        added = []
        for s in adders:
            key = (int(s), sh.files + int(rng.integers(0, EXTRA_FILES)))
            out.files[key] = (0, sh.ids)
            added.append(key)
        hot = [f for f in sorted(out.files) if f[0] == 0]
        rest = [f for f in sorted(out.files) if f[0] != 0]
        n_changed = max(2, len(out.files) // 4)
        changed = [hot[int(rng.integers(0, len(hot)))]] + [
            rest[i] for i in rng.choice(len(rest), n_changed - 1, replace=False)]
        shift = max(1, sh.ids // 4)
        for key in changed:
            out.files[key] = (shift, sh.ids + shift)
        return out, {"dropped": dropped, "added": added, "new_ids": sorted(changed)}

    def listing(self) -> dict[int, list[int]]:
        by_site: dict[int, list[int]] = {s: [] for s in range(self.shape.n_sites)}
        for s, ch in sorted(self.files):
            by_site[s].append(ch)
        return by_site

    # -- expected committed state -------------------------------------------

    def seen_pairs(self) -> list[str]:
        from crawler_spark.sources.synth import chunk_url

        out = []
        for (s, ch), (lo, hi) in self.files.items():
            url = chunk_url(s, ch)
            out.extend(f"{url}|{url}#schema-{i}" for i in range(lo, hi))
        return out

    def n_documents(self) -> int:
        """Indexed objects: every live id except BreadcrumbList objects."""
        from crawler_spark.sources.synth import make_object

        n = 0
        for (s, ch), (lo, hi) in self.files.items():
            for i in range(lo, hi):
                t = make_object(s, ch, i, self.seed)["@type"]
                n += not (isinstance(t, list) and "BreadcrumbList" in t)
        return n

    def expected(self) -> Expected:
        pairs = self.seen_pairs()
        return Expected(len(pairs), digest(pairs), self.n_documents(), self.work_items())

    def work_items(self) -> int:
        """Files fetched + ids extracted by a crawl that fetches every file."""
        return len(self.files) + sum(hi - lo for lo, hi in self.files.values())


@dataclass(frozen=True)
class Expected:
    """What a crawl of a :class:`Corpus` must commit, and the work it does."""
    seen_rows: int
    seen_digest: str
    documents: int
    work_items: int


def digest(lines: list[str]) -> str:
    """Order-insensitive digest of a multiset of strings."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# DataFrames handed to the engine
# ---------------------------------------------------------------------------

def pages_df(spark, corpus: Corpus, path: Path):
    """Write the corpus's pages table (``corpus_pages_df``) to ``path`` and
    read it back."""
    from crawler_spark.sources.synth import corpus_pages_df

    sh = corpus.shape
    corpus_pages_df(
        spark, sh.n_sites, sh.files + EXTRA_FILES, items_per_chunk=sh.ids,
        seed=corpus.seed, hot_site_chunks=sh.hot_files,
        sitemap_chunks=corpus.listing(),
    ).write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def churned_pages_df(spark, pages, base: Corpus, target: Corpus, path: Path):
    """``pages`` with the bodies the churn changed: the sitemaps of sites
    whose listing changed, and files whose id window moved (re-rendered
    with ``make_object`` over the new window — same id scheme, new ids)."""
    from pyspark.sql import functions as F

    from crawler_spark.sources.synth import chunk_url, make_object, site_url, sitemap_body

    new_lists, old_lists = target.listing(), base.listing()
    bodies = [(f"{site_url(s)}/schema_map.xml", sitemap_body(s, chunks).encode())
              for s, chunks in new_lists.items() if chunks != old_lists[s]]
    bodies += [(chunk_url(s, ch), json.dumps(
                   [make_object(s, ch, i, target.seed) for i in range(lo, hi)]).encode())
               for (s, ch), (lo, hi) in sorted(target.files.items())
               if (lo, hi) != (0, target.shape.ids)]
    new = spark.createDataFrame(bodies, "url string, new_html binary")
    (pages.join(F.broadcast(new), "url", "left")
     .withColumn("html", F.coalesce("new_html", "html")).drop("new_html")
     .write.mode("overwrite").parquet(str(path)))
    return spark.read.parquet(str(path))


def manual_files_df(spark, corpus: Corpus):
    """Every live file as an ``add_manual_files`` row (re-queue all)."""
    from crawler_spark.sources.synth import chunk_url, site_host, site_url

    rows = [(site_host(s), USER, chunk_url(s, ch), f"{site_url(s)}/schema_map.xml")
            for s, ch in sorted(corpus.files)]
    return spark.createDataFrame(
        rows, "site_url string, user_id string, file_url string, schema_map string")


def crawl_config(shape: Shape, cores: int):
    from crawler_spark.crawl import CrawlConfig

    return CrawlConfig(num_partitions=max(cores, 8), per_host_budget=shape.hot_files,
                       salt_buckets=16, collect_stats=False)


# ---------------------------------------------------------------------------
# one timed phase
# ---------------------------------------------------------------------------

@dataclass
class PhaseResult:
    wall_s: float
    first_commit_s: float  # phase start → end of its first working epoch
    epoch_walls: list[float]


def run_phase(engine, prepare) -> PhaseResult:
    """``prepare()`` (bootstrap, or the churn's discover + re-queue), then
    ``engine.run()`` to fixed point — all timed. Epoch end times come from
    a wrapper on this engine instance's ``run_epoch``."""
    ends: list[tuple[float, int]] = []
    inner = engine.run_epoch
    t0 = time.perf_counter()

    def run_epoch(epoch):
        rep = inner(epoch)
        ends.append((time.perf_counter() - t0, rep.selected))
        return rep

    engine.run_epoch = run_epoch
    try:
        prepare()
        reports = engine.run()
    finally:
        del engine.run_epoch
    wall = time.perf_counter() - t0
    return PhaseResult(
        wall_s=wall,
        first_commit_s=next((t for t, sel in ends if sel > 0), wall),
        epoch_walls=[r.wall_s for r in reports if r.selected > 0])


def live_bytes(store) -> int:
    """Bytes of the committed table versions plus the append-only metrics
    parts — the store's content, without superseded versions or scratch."""
    tables = store.read_manifest()["tables"]
    return sum(store.table_bytes(t) for t in tables) + dir_bytes(Path(store.root) / "metrics")


def corrupt_copy(src: Path, dst: Path):
    """A copy of a committed store with one url_seen row deleted — what the
    gate must reject (smoke test)."""
    from crawler_spark.sources.tables import SnapshotStore

    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    store = SnapshotStore(dst)
    victim = next(f for f in _live_files(store, "url_seen") if pq.ParquetFile(f).metadata.num_rows)
    t = pq.read_table(victim)
    pq.write_table(t.slice(1), victim)
    return store


# ---------------------------------------------------------------------------
# correctness gate over the committed state (driver-side parquet reads)
# ---------------------------------------------------------------------------

def _live_files(store, table: str) -> list[Path]:
    """Parquet files of a table's committed version, via the manifest and
    the store's documented layout."""
    ver = store.read_manifest()["tables"].get(table)
    if ver is None:
        return []
    return [f for d in version_dirs(store.root, table, ver) for f in sorted(d.glob("*.parquet"))]


def _read(store, table: str, cols: list[str]) -> dict[str, list]:
    out: dict[str, list] = {c: [] for c in cols}
    for f in _live_files(store, table):
        t = pq.read_table(f, columns=cols)
        for c in cols:
            out[c].extend(t.column(c).to_pylist())
    return out


def check_state(store, expected: Expected) -> list[str]:
    """The four gate checks; returns one message per failed check."""
    failures = []
    seen = _read(store, "url_seen", ["file_url", "user_id", "id"])
    got = [f"{u}|{i}" for u, i in zip(seen["file_url"], seen["id"])]
    got_digest = digest(got)
    if len(got) != expected.seen_rows or got_digest != expected.seen_digest:
        failures.append(f"url_seen: {len(got)} rows digest {got_digest[:12]}, expected "
                        f"{expected.seen_rows} rows digest {expected.seen_digest[:12]}")

    n_docs = sum(pq.ParquetFile(f).metadata.num_rows for f in _live_files(store, "documents"))
    if n_docs != expected.documents:
        failures.append(f"documents: {n_docs} rows, expected {expected.documents}")

    pending = 0
    for f in _live_files(store, "frontier"):
        status = pq.read_table(f, columns=["status"]).column("status")
        pending += pc.sum(pc.equal(status, "pending")).as_py() or 0
    if pending:
        failures.append(f"frontier: {pending} rows left pending")

    rc = _read(store, "refcounts", ["id", "user_id", "ref_count"])
    got_rc = {(i, u): n for i, u, n in zip(rc["id"], rc["user_id"], rc["ref_count"])}
    want_rc = dict(Counter(zip(seen["id"], seen["user_id"])))
    if got_rc != want_rc:
        diff = len(set(got_rc.items()) ^ set(want_rc.items()))
        failures.append(f"refcounts: {diff} (id, count) entries differ from url_seen grouped by id")
    return failures
