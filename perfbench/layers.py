"""Per-layer metrics of the traced run.

Every metric is emitted on every workload; a layer that a workload does
not exercise reads 0 there (the prediction for that pairing is "flat").
Time and count metrics of the ingest workloads are per batch, that is,
per non-replay ``run_extraction_job`` call; those of the operators are
per operator call. Call latencies that only one workload has (the
replay, the lookups, each operator) are reported here rather than end to
end, because every end-to-end metric has to exist on every workload.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from .tracing import attribute, union_s
from .workloads import DEDUP_OPS

__all__ = ["LAYER_METRICS", "kernel_sample", "layer_metrics"]

_KERNEL = [("pdf", "us"), ("pdf_encrypted", "us"), ("html", "us"),
           ("resume_map", "us"), ("canonical_json", "us"),
           ("resume_to_text", "us"), ("embed", "us")]
_EXTRACT = [("pass_s", "s"), ("plan_s", "s"), ("task_run_s", "s"),
            ("task_cpu_s", "s"), ("gc_s", "s"),
            ("bytes_to_python", "bytes"), ("bytes_from_python", "bytes"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
            ("peak_exec_mem_mb", "MB"), ("tasks", "count")]
_WRITER = [("resume_filter_s", "s"), ("commit_extracted_s", "s"),
           ("commit_audit_s", "s"), ("commit_bands_s", "s"),
           ("compact_s", "s"), ("expire_s", "s"),
           ("bytes_written", "bytes"), ("files_written", "count"),
           ("live_snapshots", "count"), ("lookup_files", "count"),
           ("lookup_s", "s")]
_OP = [("task_cpu_s", "s"), ("shuffle_bytes", "bytes"),
       ("spill_bytes", "bytes"), ("jobs", "count")]

#: (name, unit) of every per-layer metric, in output order
LAYER_METRICS = (
    [("session.start_s", "s"), ("session.warmup_s", "s")]
    + [(f"kernels.{k}_us_per_doc", u) for k, u in _KERNEL]
    + [("kernels.docs_per_s_per_core", "docs/s")]
    + [(f"extract.{k}", u) for k, u in _EXTRACT]
    + [("enrich.s", "s"), ("index.plan_s", "s")]
    + [(f"writer.{k}", u) for k, u in _WRITER]
    + [("resume_noop_s", "s"), ("lookup_ms_p50", "ms"),
       ("lookup_ms_p90", "ms")]
    + [("spark.jobs_per_batch", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count")]
    + [("dedup_ops_s", "s"), ("dedup_clusters_s", "s"),
       ("neardup_pairs_s", "s")]
    + [m for op in DEDUP_OPS
       for m in [(f"ops.{op}_s", "s")] +
       [(f"ops.{op}.{k}", u) for k, u in _OP]]
    + [("mem.jvm_rss_peak_mb", "MB"), ("mem.pyworkers_rss_peak_mb", "MB")]
    + [("trace.overhead_frac", "ratio"), ("trace.unattributed_s", "s"),
       ("trace.unattributed_frac", "ratio")])


def kernel_sample(doc_ids, reps: int = 3) -> dict[str, float]:
    """Direct single-process kernel calls on generated pages: median over
    ``reps`` passes of each phase's mean microseconds per doc."""
    from resume_parser_service_spark.kernels import (embed, html_text,
                                                     pdf_text, resume_map)
    from resume_parser_service_spark.schema import canonical_resume_json
    from resume_parser_service_spark.sources.pages import synth_doc

    docs = [synth_doc(d)["html"] for d in doc_ids]
    passes = []
    for _ in range(reps):
        acc = {k: [0.0, 0] for k, _u in _KERNEL}
        total = 0.0
        for html in docs:
            t0 = time.perf_counter()
            if html[:4] == b"%PDF":
                res = pdf_text.extract_pdf(html)
                parse = "pdf_encrypted" if b"/Encrypt" in html else "pdf"
            else:
                res = html_text.extract_html(html)
                parse = "html"
            t1 = time.perf_counter()
            resume = resume_map.map_resume(res["text"], res["links"])
            t2 = time.perf_counter()
            canonical_resume_json(resume)
            t3 = time.perf_counter()
            flat = resume_map.resume_to_text(resume)
            t4 = time.perf_counter()
            embed.embed_text(flat)
            t5 = time.perf_counter()
            for k, dt in ((parse, t1 - t0), ("resume_map", t2 - t1),
                          ("canonical_json", t3 - t2),
                          ("resume_to_text", t4 - t3), ("embed", t5 - t4)):
                acc[k][0] += dt
                acc[k][1] += 1
            total += t5 - t0
        row = {f"kernels.{k}_us_per_doc": (s / n * 1e6 if n else 0.0)
               for k, (s, n) in acc.items()}
        row["kernels.docs_per_s_per_core"] = len(docs) / total
        passes.append(row)
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def _table_writes(root: str, since: float, until: float
                  ) -> tuple[int, int, int]:
    """(bytes, files) written by the commits between ``since`` and
    ``until`` (epoch s) to every table under ``root`` (expired manifests
    keep their file lists), and the live snapshot count."""
    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    nbytes = nfiles = live = 0
    for name in sorted(os.listdir(root)):
        snap_dir = os.path.join(root, name, "_snapshots")
        if not os.path.isdir(snap_dir):
            continue
        for fn in os.listdir(snap_dir):
            if fn.endswith(".json") and not fn.startswith("."):
                with open(os.path.join(snap_dir, fn)) as fh:
                    manifest = json.load(fh)
                if not since <= manifest["committed_at"] <= until:
                    continue
                files = manifest.get("files") or []
                nbytes += sum(f.get("bytes", 0) for f in files)
                nfiles += len(files)
        live += len(SnapshotTable(os.path.join(root, name)).live_snapshots())
    return nbytes, nfiles, live


def _pct(values, q: float) -> float:
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def _descendants(tracer, span) -> list:
    out, todo = [], [span]
    while todo:
        kids = tracer.children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def layer_metrics(workload, loop, tracer, jobs, execs, extras: dict
                  ) -> dict:
    m = {name: 0.0 for name, _u in LAYER_METRICS}
    m.update(extras)
    spans = tracer.spans
    direct = attribute(spans, jobs)
    direct_execs = attribute(spans, execs)
    by_sid = {s.sid: s for s in spans}

    def spark_s(sid: int) -> float:
        """Wall of the Spark work (SQL executions and jobs) attributed
        to span ``sid`` itself."""
        return union_s((x.start, x.end) for x in
                       direct.get(sid, []) + direct_execs.get(sid, []))

    # driver time inside a call that no child span or Spark work covers
    unattributed = wall = 0.0
    top = [c for c in loop.calls if c.kind in ("job", "replay")
           or c.kind.startswith("op:")]
    for c in top:
        span = by_sid[c.span]
        unattributed += max(0.0, tracer.self_time(span) - spark_s(c.span))
        wall += span.dur
    if top:
        m["trace.unattributed_s"] = unattributed / len(top)
        m["trace.unattributed_frac"] = unattributed / wall

    batches = [c for c in loop.calls if c.kind == "job"]
    if batches:
        n = len(batches)
        inner = [s for c in batches for s in _descendants(tracer,
                                                          by_sid[c.span])]
        # pipeline.extract: the call's own jobs and those of enrich
        ext = [j for c in batches for j in direct.get(c.span, [])] + [
            j for s in inner if s.name == "extract.enrich"
            for j in direct.get(s.sid, [])]
        m["extract.pass_s"] = sum(spark_s(c.span) for c in batches) / n
        m["extract.task_run_s"] = sum(j.run_s for j in ext) / n
        m["extract.task_cpu_s"] = sum(j.cpu_s for j in ext) / n
        m["extract.gc_s"] = sum(j.gc_s for j in ext) / n
        m["extract.bytes_to_python"] = sum(j.bytes_to_python
                                           for j in ext) / n
        m["extract.bytes_from_python"] = sum(j.bytes_from_python
                                             for j in ext) / n
        m["extract.shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                               for j in ext) / n
        m["extract.spill_bytes"] = sum(j.spill_bytes for j in ext) / n
        m["extract.peak_exec_mem_mb"] = max(
            [j.peak_exec_mem for j in ext] or [0]) / 2**20
        m["extract.tasks"] = sum(j.tasks for j in ext) / n

        compacts = {s.sid for s in inner if s.name == "writer.compact"}

        def total(pred) -> float:
            return sum(s.dur for s in inner if pred(s)) / n
        m["enrich.s"] = total(lambda s: s.name == "extract.enrich")
        m["extract.plan_s"] = total(lambda s: s.name == "extract.plan")
        m["index.plan_s"] = total(lambda s: s.name == "index.plan")
        m["writer.resume_filter_s"] = total(
            lambda s: s.name == "writer.resume_filter")
        for key, table in (("extracted", "resumes_extracted"),
                           ("audit", "extraction_audit"),
                           ("bands", "neardup_bands")):
            m[f"writer.commit_{key}_s"] = total(
                lambda s, t=table: s.name == "writer.commit:" + t
                and s.parent not in compacts)
        m["writer.compact_s"] = total(lambda s: s.name == "writer.compact")
        m["writer.expire_s"] = total(lambda s: s.name == "writer.expire")
        nbytes, nfiles, live = _table_writes(
            loop.root, by_sid[batches[0].span].start,
            by_sid[loop.calls[-1].span].end)
        m["writer.bytes_written"] = nbytes / n
        m["writer.files_written"] = nfiles / n
        m["writer.live_snapshots"] = live

    # Spark work per batch; on corpus_dedup a batch is one operator call
    main = batches or [c for c in loop.calls if c.kind.startswith("op:")]
    main_jobs = [j for c in main for s in
                 [by_sid[c.span]] + _descendants(tracer, by_sid[c.span])
                 for j in direct.get(s.sid, [])]
    m["spark.jobs_per_batch"] = len(main_jobs) / len(main)
    m["spark.stages"] = sum(j.stages for j in main_jobs) / len(main)
    m["spark.tasks"] = sum(j.tasks for j in main_jobs) / len(main)

    replays = [c.wall for c in loop.calls if c.kind == "replay"]
    if replays:
        m["resume_noop_s"] = statistics.median(replays)
    lookups = [c for c in loop.calls if c.kind == "lookup"]
    if lookups:
        ms = [c.wall * 1e3 for c in lookups]
        m["lookup_ms_p50"] = statistics.median(ms)
        m["lookup_ms_p90"] = _pct(ms, 0.9)
        plan = [s.dur for c in lookups for s in
                tracer.children(by_sid[c.span])
                if s.name == "writer.point_lookup"]
        m["writer.lookup_s"] = statistics.median(plan)
        m["writer.lookup_files"] = statistics.mean(loop.lookup_files)

    if workload.name == "corpus_dedup":
        meds = workload.op_medians(loop)
        m["dedup_ops_s"] = sum(meds.values())
        m["dedup_clusters_s"] = meds["dedup_clusters"]
        m["neardup_pairs_s"] = meds["embedding_neardup_pairs"]
        for op in DEDUP_OPS:
            calls = [c for c in loop.calls if c.kind == "op:" + op]
            js = [j for c in calls for j in direct.get(c.span, [])]
            m[f"ops.{op}_s"] = meds[op]
            m[f"ops.{op}.task_cpu_s"] = sum(j.cpu_s for j in js) / len(calls)
            m[f"ops.{op}.shuffle_bytes"] = sum(
                j.shuffle_write_bytes for j in js) / len(calls)
            m[f"ops.{op}.spill_bytes"] = sum(j.spill_bytes
                                             for j in js) / len(calls)
            m[f"ops.{op}.jobs"] = len(js) / len(calls)
    return m
