"""The three workloads: inputs, warm-up, timed closed loop, checks.

Each workload is a closed loop with one client: the next call starts
only after the previous one returned. A run does a fixed amount of work
(batches or passes, see ``units``), so how much it measures does not
depend on how fast the host happens to be. A call is one public entry point
of the package (``run_extraction_job``, ``SnapshotTable.point_lookup``
or one operator of ``__spark_entry__.queries()``), timed with
``perf_counter`` and, in the traced run, recorded as a top-level span.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from . import inputs

__all__ = ["WORKLOADS", "Call"]

DEDUP_OPS = ["dedup_clusters", "embedding_neardup_pairs",
             "ngram_jaccard_pairs", "band_signatures", "ivf_topk",
             "repeated_spans"]

#: expected (status, error_class) of each edge-case fixture url
FIXTURE_STATUS = {
    "minimal": ("ok", None), "six_pages": ("ok", None),
    "links": ("ok", None), "encrypted": ("ok", None),
    "oversize": ("rejected", "FileTooLargeError"),
    "bad_magic": ("rejected", "InvalidFileTypeError"),
    "truncated": ("error", "FileProcessingError"),
    "locked": ("error", "FileProcessingError"),
}

#: doc_id offsets inside a seed's range
_WARM_OFFSET = 900_000
_ABSENT_OFFSET = 800_000


@dataclass
class Call:
    kind: str
    wall: float
    docs: int = 0
    span: int | None = None


class Checks:
    """Named correctness checks: attempted and failed operations."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failures: dict[str, list[str]] = {}

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted[name] = self.attempted.get(name, 0) + 1
        if not ok:
            self.failures.setdefault(name, []).append(detail)

    @property
    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def n_failed(self) -> int:
        return sum(len(v) for v in self.failures.values())


class Loop:
    """State of one timed pass: the calls made and the checks done."""

    def __init__(self, tag: str, tracer, checks: Checks) -> None:
        self.tag = tag
        self.tracer = tracer
        self.checks = checks
        self.calls: list[Call] = []
        self.root: str | None = None  # output root of the last job
        self.lookup_files: list[int] = []
        self.results: dict[str, object] = {}  # last result of each call

    def call(self, kind: str, fn, docs: int = 0) -> tuple[Call, object]:
        sid = None
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            with self.tracer.span("call." + kind) as s:
                out = fn()
            sid = s.sid
        c = Call(kind, time.perf_counter() - t0, docs, sid)
        self.calls.append(c)
        return c, out


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _job(spark, pages_path: str, root: str, **flags):
    from resume_parser_service_spark.pipeline.run import run_extraction_job
    return lambda: run_extraction_job(spark, spark.read.parquet(pages_path),
                                      root, **flags)


def _check_tables(spark, root: str, expected: dict[str, str],
                  checks: Checks) -> None:
    """Committed text byte-identical to the generator's for every url;
    the fixtures' audit status; one audit row per input url."""
    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    from resume_parser_service_spark.sources.pages import EDGE_URLS
    ext = SnapshotTable(os.path.join(root, "resumes_extracted"))
    got = {r["url"]: r["text"] for r in
           ext.read_current(spark).select("url", "text").collect()}
    failing = {EDGE_URLS[k] for k, (st, _e) in FIXTURE_STATUS.items()
               if st != "ok"}
    for url, text in expected.items():
        if url in failing:
            checks.record("text", url not in got, f"{url} committed")
        else:
            checks.record("text", got.get(url) == text,
                          f"{url} text differs or is missing")
    for url in set(got) - set(expected):
        checks.record("text", False, f"{url} committed but never ingested")
    audit = SnapshotTable(os.path.join(root, "extraction_audit")).read(spark)
    rows = audit.select("url", "status", "error_class").collect()
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append((r["status"],
                                                r["error_class"]))
    for key, want in FIXTURE_STATUS.items():
        if EDGE_URLS[key] in expected:
            have = by_url.get(EDGE_URLS[key])
            checks.record("fixture_status", have == [want],
                          f"{key}: {have} != {want}")
    for url in expected:
        if url in failing:
            continue
        checks.record("audit", by_url.get(url) == [("ok", None)],
                      f"{url}: audit {by_url.get(url)}")
    checks.record("audit", len(by_url) == len(expected),
                  f"{len(by_url)} audited urls for {len(expected)} inputs")


def units(seconds: float, unit_s: float) -> int:
    """How many units of work a run of ``seconds`` measures: a fixed
    count for a given ``--seconds``, whatever the host's speed, sized by
    the unit's nominal wall ``unit_s`` on a 4-core host; at least one."""
    return max(1, round(seconds / unit_s))


# ------------------------------------------------------------ cold ingest --
class ColdIngest:
    """One large fresh batch, default flags, empty output root."""

    name = "cold_ingest"
    N_DOCS = 2000
    JOB_S = 10.0

    def __init__(self, seconds: float) -> None:
        self.n_jobs = units(seconds, self.JOB_S)

    def prepare(self, cache: str, seed: int) -> set[str]:
        base = inputs.doc_base(seed)
        self.ids = range(base, base + self.N_DOCS)
        self.pages = inputs.ensure_pages(
            cache, f"cold-s{seed}-n{self.N_DOCS}", self.ids, True, 8)
        warm = range(base + _WARM_OFFSET, base + _WARM_OFFSET + 40)
        self.warm_pages = inputs.ensure_pages(cache, f"warm-s{seed}", warm,
                                              True, 4)
        # input rows: docs, their refetch rows and the 8 fixtures
        self.n_input = len(self.ids) + sum(1 for d in self.ids
                                           if d % 50 == 1) + 8
        return {os.path.basename(self.pages),
                os.path.basename(self.warm_pages)}

    def sample_ids(self):
        return self.ids[:120]

    def warmup(self, spark, work: str) -> None:
        _job(spark, self.warm_pages, _fresh(os.path.join(work, "warm")))()

    def timed(self, spark, work: str, loop: Loop) -> None:
        for i in range(self.n_jobs):
            root = _fresh(os.path.join(work, f"cold-{loop.tag}-{i % 2}"))
            loop.call("job", _job(spark, self.pages, root), self.n_input)
            loop.root = root

    def check(self, spark, loop: Loop) -> None:
        _check_tables(spark, loop.root,
                      inputs.expected_texts(self.ids, True), loop.checks)

    def e2e(self, loop: Loop) -> dict:
        walls = [c.wall for c in loop.calls]
        med = statistics.median(walls)
        return {"docs_per_s": self.n_input / med, "cycle_s": med}


# ----------------------------------------------------- incremental ingest --
class IncrementalIngest:
    """Small batches into one growing root with the CLI's ingest flags;
    each batch is replayed once (a no-op) and followed by point lookups.
    The warm-up primes a fresh root with two small batches (the fixtures
    in the first; the second already compacts), so every timed batch
    resumes against committed keys, matches the band index and, with
    ``compact_after=2``, compacts. Each warm-up primes a root of its own,
    so two timed passes of one run (traced and untraced) do equal work."""

    name = "incremental_ingest"
    BATCH = 200
    BATCH_S = 16.0  # nominal batch + replay + lookups wall
    LOOKUPS = 4  # per batch: half committed urls, half absent ones
    FLAGS = dict(enrich=True, neardup_index=True, compact_after=2)

    def __init__(self, seconds: float) -> None:
        self.n_batches = units(seconds, self.BATCH_S)
        self.roots = 0

    def prepare(self, cache: str, seed: int) -> set[str]:
        base = inputs.doc_base(seed)
        self.batch_ids = [range(base + i * self.BATCH,
                                base + (i + 1) * self.BATCH)
                          for i in range(self.n_batches)]
        self.batches = [
            inputs.ensure_pages(cache, f"incr-s{seed}-b{i}-n{self.BATCH}",
                                ids, False, 2)
            for i, ids in enumerate(self.batch_ids)]
        warm = base + _WARM_OFFSET
        self.warm_ids = [range(warm, warm + 40), range(warm + 40, warm + 80)]
        self.warm_pages = [
            inputs.ensure_pages(cache, f"warm-s{seed}", self.warm_ids[0],
                                True, 4),
            inputs.ensure_pages(cache, f"warm2-s{seed}", self.warm_ids[1],
                                False, 2)]
        self.expected = [inputs.expected_texts(ids)
                         for ids in self.batch_ids]
        absent = range(base + _ABSENT_OFFSET,
                       base + _ABSENT_OFFSET + self.n_batches * self.LOOKUPS)
        self.absent = list(inputs.expected_texts(absent))
        return {os.path.basename(p) for p in self.batches + self.warm_pages}

    def sample_ids(self):
        return [d for ids in self.batch_ids for d in ids][:120]

    def warmup(self, spark, work: str) -> None:
        self.root = _fresh(os.path.join(work, f"incr-{self.roots}"))
        self.roots += 1
        for pages in self.warm_pages:
            _job(spark, pages, self.root, **self.FLAGS)()

    def timed(self, spark, work: str, loop: Loop) -> None:
        from resume_parser_service_spark.pipeline.writer import SnapshotTable
        loop.root = self.root
        table = SnapshotTable(os.path.join(loop.root, "resumes_extracted"))
        half = self.LOOKUPS // 2
        for i in range(self.n_batches):
            job = _job(spark, self.batches[i], loop.root, **self.FLAGS)
            c, res = loop.call("job", job)
            c.docs = res["extracted"] + res["rejected"]
            _c, res = loop.call("replay", job)
            loop.checks.record("replay_noop", res["resumed_noop"] is True,
                               f"batch {i} replay: {res}")
            keys = (list(self.expected[i])[::self.BATCH // half][:half] +
                    self.absent[i * half:(i + 1) * half])
            for url in keys:
                _c, rows = loop.call("lookup", lambda: table.point_lookup(
                    spark, url).select("url", "text").collect())
                want = self.expected[i].get(url)
                ok = ([(r["url"], r["text"]) for r in rows] == [(url, want)]
                      if want is not None else not rows)
                loop.checks.record("lookup", ok, f"lookup {url}: {rows}")
                if loop.tracer is not None:  # files a lookup must open
                    loop.lookup_files.append(
                        len(table.prune_files(key_eq=url) or []))

    def check(self, spark, loop: Loop) -> None:
        expected = inputs.expected_texts(self.warm_ids[0], True)
        expected.update(inputs.expected_texts(self.warm_ids[1]))
        for e in self.expected:
            expected.update(e)
        _check_tables(spark, loop.root, expected, loop.checks)

    def e2e(self, loop: Loop) -> dict:
        jobs = [c for c in loop.calls if c.kind == "job"]
        return {"docs_per_s": sum(c.docs for c in jobs) /
                sum(c.wall for c in jobs),
                "cycle_s": sum(c.wall for c in loop.calls) / len(jobs)}


# ----------------------------------------------------------- corpus dedup --
def _oracle_compare():
    """``compare`` from ``tools/check_oracle.py``, so the benchmark and
    the oracle checker judge results by one rule."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class CorpusDedup:
    """The batch dedup and near-dup operators over a seeded corpus shaped
    like sf0.1 (see ``inputs``) at ``SCALE`` times its size; no
    extraction or writer code runs. Each call collects the operator's
    result to the driver; the last pass's results are checked against
    the operators' DuckDB oracles after the timed loop.

    At 0.4 the operators' walls rank as on the sf0.1 tables (4-core
    host, medians of three warm calls): ivf_topk, band_signatures, then
    dedup_clusters and ngram_jaccard_pairs within 10% of each other,
    repeated_spans, embedding_neardup_pairs. The walls are mostly fixed
    per-job cost: a pass takes about 0.75 of an sf0.1 pass."""

    name = "corpus_dedup"
    SCALE = 0.4
    PASS_S = 16.0  # nominal wall of one pass over the six operators

    def __init__(self, seconds: float) -> None:
        self.n_passes = units(seconds, self.PASS_S)

    def prepare(self, cache: str, seed: int) -> set[str]:
        import __spark_entry__ as entry
        self.sf_dir = inputs.ensure_dedup_corpus(cache, seed, self.SCALE)
        self.n_docs = round(inputs.SF01_DOCS * self.SCALE)
        self.seed = seed
        qs, oracles = entry.queries(), entry.oracle_sql()
        self.ops = {n: qs[n] for n in DEDUP_OPS}
        self.oracles = {n: oracles[n] for n in DEDUP_OPS}
        return {os.path.basename(self.sf_dir)}

    def sample_ids(self):
        base = inputs.doc_base(self.seed) + _WARM_OFFSET
        return range(base, base + 120)

    def _run(self, spark, name: str):
        return lambda: self.ops[name](spark, self.sf_dir).toPandas()

    def warmup(self, spark, work: str) -> None:
        for name in DEDUP_OPS:
            self._run(spark, name)()

    def timed(self, spark, work: str, loop: Loop) -> None:
        for _ in range(self.n_passes):
            for name in DEDUP_OPS:
                _c, loop.results[name] = loop.call(
                    "op:" + name, self._run(spark, name), self.n_docs)

    def check(self, spark, loop: Loop) -> None:
        """Each operator's last result against its DuckDB oracle."""
        import duckdb
        compare = _oracle_compare()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            for name in DEDUP_OPS:
                odf = con.execute(self.oracles[name]).df()
                verdict = compare(name, loop.results[name], odf)
                loop.checks.record("oracle:" + name, verdict == "OK",
                                   f"{name}: {verdict}")
        finally:
            con.close()

    def op_medians(self, loop: Loop) -> dict[str, float]:
        return {n: statistics.median(c.wall for c in loop.calls
                                     if c.kind == "op:" + n)
                for n in DEDUP_OPS}

    def e2e(self, loop: Loop) -> dict:
        total = sum(self.op_medians(loop).values())
        return {"docs_per_s": self.n_docs / total, "cycle_s": total}


WORKLOADS = {w.name: w for w in (ColdIngest, IncrementalIngest, CorpusDedup)}
