"""The program's layers as the benchmark sees them: which public calls of each
``pysearch`` module get a span in a traced run, and how the spans, their
Spark counters and the index files turn into the per-layer metrics.

A layer is a module; a span is named ``<module>.<call>``. The benchmark's own
operation spans are named ``op.<what>``.
"""

from __future__ import annotations

import importlib
import os

from perfbench.measure import dir_bytes
from perfbench.trace import Tracer, self_time

# (module, class or None, attribute, span name)
TRACED_CALLS = [
    ("pysearch.query", "SearchIndex", "__init__", "query.open"),
    ("pysearch.query", "SearchIndex", "search", "query.search"),
    ("pysearch.query", "SearchIndex", "global_term_stats", "query.term_stats"),
    ("pysearch.query", "SearchIndex", "search_batch", "query.search_batch"),
    ("pysearch.query", "SearchIndex", "search_batch_table", "query.search_batch_table"),
    ("pysearch.build", None, "build_index", "build.build_index"),
    ("pysearch.build", None, "build_segment_from_df", "build.segment"),
    ("pysearch.build", None, "append_segment", "build.append_segment"),
    ("pysearch.corpus", None, "assign_doc_ids", "corpus.assign_doc_ids"),
    ("pysearch.merge", None, "apply_updates", "merge.apply_updates"),
    ("pysearch.merge", None, "delete_docs", "merge.delete_docs"),
    ("pysearch.merge", None, "run_merge_round", "merge.run_merge_round"),
    ("pysearch.merge", None, "force_merge", "merge.force_merge"),
    ("pysearch.merge", None, "merge_segments", "merge.merge_segments"),
    ("pysearch.checkpoint", "IndexMeta", "append_commit", "checkpoint.append_commit"),
    ("pysearch.admin", None, "gc_segments", "admin.gc_segments"),
    ("pysearch.ops.dedup", None, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("pysearch.ops.vector_index", None, "build_vector_index", "vector_index.build_vector_index"),
    ("pysearch.ops.vector_index", None, "search_vector_index_table", "vector_index.search_vector_index_table"),
    ("pysearch.ops.similarity", None, "train_centroids", "similarity.train_centroids"),
]

# DataFrame actions: the program returns lazy DataFrames, so execution and
# result return happen in the action that consumes them
TRACED_ACTIONS = ("collect", "count", "toPandas")

# span-name prefixes whose self time is reported per layer ("op" is the
# benchmark's own time between calls)
SELF_TIME_LAYERS = (
    "server", "query", "build", "corpus", "merge", "checkpoint", "admin",
    "dedup", "vector_index", "similarity", "spark", "op",
)

def install(tracer: Tracer, spark) -> None:
    """Patch every traced call, the DataFrame actions and the HTTP handler."""
    for module, cls, attr, name in TRACED_CALLS:
        owner = importlib.import_module(module)
        if cls is not None:
            owner = getattr(owner, cls)
        tracer.wrap(owner, attr, name)
    df_cls = type(spark.range(1))
    for action in TRACED_ACTIONS:
        tracer.wrap(df_cls, action, f"spark.{action}")
    # reading parquet infers the schema with a Spark job; the segment-build
    # threads read their staged partition before any traced call
    tracer.wrap(type(spark.read), "parquet", "spark.read_parquet")

    from pysearch import server

    make_handler = server.make_handler

    def traced_make_handler(*args, **kwargs):
        base = make_handler(*args, **kwargs)

        class TracedHandler(base):
            def do_POST(self):
                with tracer.span("server.handle"):
                    return base.do_POST(self)

        return TracedHandler

    tracer.patch(server, "make_handler", traced_make_handler)


def index_file_stats(meta) -> dict:
    """On-disk bytes of each index component over the manifests' counts."""
    sizes = {"postings": 0, "docmap": 0, "dictionary": 0}
    postings = docs = terms = 0
    for seg, m in meta.live_manifests().items():
        for kind, paths in (
            ("postings", meta.postings_paths(seg)),
            ("docmap", meta.docmap_paths(seg)),
            ("dictionary", meta.dictionary_paths(seg)),
        ):
            for p in paths:
                sizes[kind] += _path_bytes(p)
        postings += m["num_postings"]
        docs += m["num_docs"]
        terms += m["num_terms"]
    return {
        "codec.postings_bytes_per_posting": sizes["postings"] / max(postings, 1),
        "build.docmap_bytes_per_doc": sizes["docmap"] / max(docs, 1),
        "build.dictionary_bytes_per_term": sizes["dictionary"] / max(terms, 1),
    }


def _path_bytes(path: str) -> int:
    return os.path.getsize(path) if os.path.isfile(path) else dir_bytes(path)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, census: dict, extra: dict) -> dict[str, float]:
    """The per-layer metrics of a harvested trace: every per-layer metric of
    BENCHMARK.json but the traced.* values, which are the end-to-end results
    of the traced run.
    `extra` carries the values measured outside spans (file sizes, block
    counters, counts the program returned). A layer the workload does not
    exercise reads 0."""
    spans = tracer.spans
    kids = tracer.children()
    by_id = {s.span_id: s for s in spans}

    def named(name):
        return [s for s in spans if s.name == name]

    def incl(ss, key):
        return [tracer.inclusive(s, key, kids) for s in ss]

    def child(s, name):
        return [c for c in kids.get(s.span_id, []) if c.name == name]

    out: dict[str, float] = {}
    searches = named("op.search")
    handles = named("server.handle")
    overhead = []
    for h in handles:
        op = by_id[h.op_id]
        engine = sum(c.duration for c in child(h, "query.search") + child(h, "spark.collect"))
        overhead.append(op.duration - engine)
    out["server.overhead_s"] = _mean(overhead)
    out["query.open_s"] = _mean(s.duration for s in named("query.open"))
    out["query.cold_first_call_s"] = _mean(s.duration for s in named("op.first_query"))
    # per-query layers: warm queries only (inside op.search, not the
    # set-up's first query)
    def in_searches(name):
        return [s for s in named(name) if by_id[s.op_id].name == "op.search"]

    out["query.term_stats_s"] = _mean(s.duration for s in in_searches("query.term_stats"))
    out["query.search_s"] = _mean(s.duration for s in in_searches("query.search"))
    returns = [
        s for s in in_searches("spark.collect")
        if by_id[s.parent_id].name in ("server.handle", "op.search")
    ]
    out["query.result_return_s"] = _mean(s.duration for s in returns)
    out["query.jobs_per_query"] = _mean(incl(searches, "jobs"))
    out["query.stages_per_query"] = _mean(incl(searches, "stages"))
    out["query.tasks_per_query"] = _mean(incl(searches, "tasks"))
    for key in ("query.blocks_scanned", "query.blocks_skipped", "query.block_skip_ratio"):
        out[key] = float(extra.get(key, 0.0))

    batches = named("op.batch_table") + named("op.batch_list")
    out["query.batch_plan_s"] = _mean(
        s.duration for s in named("query.search_batch") + named("query.search_batch_table")
    )
    out["query.batch_exec_s"] = _mean(
        c.duration for b in batches for c in child(b, "spark.collect")
    )
    out["query.executor_cpu_s"] = _mean(incl(batches, "executor_cpu_s"))
    out["query.shuffle_bytes"] = _mean(incl(batches, "shuffle_write_bytes"))
    out["query.python_run_s"] = _mean(incl(batches, "python_run_s"))
    out["query.bytes_to_python"] = _mean(incl(batches, "bytes_to_python"))
    out["query.bytes_from_python"] = _mean(incl(batches, "bytes_from_python"))

    builds = named("build.build_index")
    segs = named("build.segment")
    out["build.stage_docids_s"] = _mean(self_time(b, child(b, "build.segment")) for b in builds)
    out["build.segment_s"] = _mean(s.duration for s in segs)
    out["build.jobs_per_segment"] = _mean(incl(segs, "jobs"))
    out["build.tasks_per_segment"] = _mean(incl(segs, "tasks"))
    built_docs = max(extra.get("build_docs", 0), 1)
    out["build.executor_cpu_s_per_doc"] = sum(incl(builds, "executor_cpu_s")) / built_docs
    out["build.shuffle_write_bytes_per_doc"] = sum(incl(builds, "shuffle_write_bytes")) / built_docs
    out["build.python_run_s"] = _mean(incl(builds, "python_run_s"))
    for key in ("codec.postings_bytes_per_posting", "build.docmap_bytes_per_doc",
                "build.dictionary_bytes_per_term"):
        out[key] = float(extra.get(key, 0.0))

    merges = named("merge.merge_segments")
    out["merge.apply_updates_s"] = _mean(s.duration for s in named("merge.apply_updates"))
    out["merge.merge_s"] = _mean(s.duration for s in named("merge.run_merge_round"))
    out["merge.compact_s"] = _mean(s.duration for s in named("merge.force_merge"))
    out["merge.bytes_rewritten"] = float(extra.get("merge.bytes_rewritten", 0))
    out["merge.jobs_per_merge"] = _mean(incl(merges, "jobs"))
    out["merge.shuffle_bytes"] = sum(incl(merges, "shuffle_write_bytes"))
    commits = named("checkpoint.append_commit")
    out["checkpoint.commits"] = float(len(commits))
    out["checkpoint.append_commit_s"] = _mean(s.duration for s in commits)
    out["admin.gc_s"] = _mean(s.duration for s in named("admin.gc_segments"))
    out["admin.gc_dirs_removed"] = float(extra.get("admin.gc_dirs_removed", 0))

    dedups = named("op.dedup")
    out["dedup.jobs"] = _mean(incl(dedups, "jobs"))
    out["dedup.shuffle_bytes"] = _mean(incl(dedups, "shuffle_write_bytes"))
    out["dedup.python_run_s"] = _mean(incl(dedups, "python_run_s"))
    out["vector_index.build_jobs"] = _mean(incl(named("op.ivf_build"), "jobs"))
    out["vector_index.table_shuffle_bytes"] = _mean(incl(named("op.ivf_table"), "shuffle_write_bytes"))

    out["spark.failed_tasks"] = sum(s.spark.get("failed_tasks", 0) for s in spans)
    out["spark.jvm_gc_s"] = sum(s.spark.get("jvm_gc_s", 0) for s in spans)
    out["spark.spill_bytes"] = sum(s.spark.get("spill_bytes", 0) for s in spans)

    selfs = dict.fromkeys(SELF_TIME_LAYERS, 0.0)
    for s in spans:
        layer = s.name.split(".", 1)[0]
        if layer in selfs:
            selfs[layer] += self_time(s, kids.get(s.span_id, []))
    for layer, v in selfs.items():
        out[f"self.{layer}_s"] = v

    coverage = tracer.coverage()
    out["trace.ops"] = float(len(tracer.ops()))
    out["trace.spans"] = float(len(spans))
    out["trace.coverage_min"] = min(coverage.values()) if coverage else 1.0
    out["trace.jobs_in_ops"] = float(census["jobs_in_ops"])
    out["trace.unattributed_jobs"] = float(census["unattributed_jobs"])
    return out
