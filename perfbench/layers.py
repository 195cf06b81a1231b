"""Per-layer metrics of a traced run: spans joined with the event log, plus
counts probed from the layers' recorded outputs.

Timings and cluster counters are summed over one pass's spans of a layer,
then the median over the traced passes is reported.  Counts (keys, pairs,
components, ...) are probed once, from the last traced pass, in their own
job group so they never mix with the pass's spans.
"""

from __future__ import annotations

import statistics

import eventlog
from tracing import LAYERS

LAYER_NAMES = list(LAYERS)
PYTHON_LAYERS = ["pipeline.extract", "pipeline.score", "dedup.simhash",
                 "similarity.semdedup"]
BASE = ["s", "jobs", "stages", "exec_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "driver_s"]
COUNTS = [
    "blocking.keys", "blocking.max_block", "blocking.hot_keys", "blocking.pairs",
    "blocking.max_task_share", "pipeline.score.name_pairs",
    "pipeline.score.udf_rows", "pipeline.score.dedup_ratio",
    "pipeline.score.match_ratio", "components.components", "components.largest",
    "checkpoint.bytes_written", "incremental.bytes_written",
    "incremental.chain_len", "incremental.compact_s", "dedup.simhash.candidates",
    "dedup.simhash.verified_ratio", "similarity.semdedup.pairs",
]
TRACE = ["trace.run_s", "trace.untraced_run_s", "trace.overhead_s",
         "trace.coverage", "trace.gc_ms", "trace.spill_bytes",
         "trace.unattributed_jobs"]
# a job may start or end this far outside its span: the event log stamps
# JVM milliseconds, spans stamp Python wall time
CLOCK_SLACK_MS = 50.0


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith(("_ratio", "_share", "coverage")):
        return "ratio"
    return "count"


def combine(times: dict, counts: dict) -> dict:
    """Per-layer values: probed counts, span/event-log times, and the
    ratios that need both."""
    values = {**counts, **times}
    if values["pipeline.score.name_pairs"]:
        values["pipeline.score.dedup_ratio"] = (
            values["pipeline.score.udf_rows"] / values["pipeline.score.name_pairs"]
        )
    return values


def metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYER_NAMES for m in BASE]
    names += [f"{layer}.python_ms" for layer in PYTHON_LAYERS]
    return names + COUNTS + TRACE


def layer_times(tracer, groups: dict, passes: list[int]) -> tuple[dict, dict]:
    """Median over ``passes`` of each layer's summed span statistics, and
    the accounting of each pass: wall, share covered by layer self time,
    jobs outside their span."""
    per_pass = []
    accounting = []
    for p in passes:
        spans = [s for s in tracer.spans if s.pass_no == p]
        children: dict = {}
        for s in spans:
            children.setdefault(s.parent, []).append(s)
        tot = {f"{layer}.{m}": 0.0 for layer in LAYER_NAMES for m in BASE}
        tot.update({f"{layer}.python_ms": 0.0 for layer in PYTHON_LAYERS})
        tot["pipeline.score.udf_rows"] = 0.0
        tot["similarity.semdedup.pairs"] = 0.0
        tot["checkpoint.bytes_written"] = 0.0
        tot["incremental.bytes_written"] = 0.0
        tot["incremental.chain_len"] = tot["incremental.compact_s"] = 0.0
        root = next(s for s in spans if s.parent is None)
        layer_self, outside = 0.0, 0
        gc_ms = spill = 0
        for s in spans:
            holes = [(c.t0 * 1000, c.t1 * 1000) for c in children.get(s.id, [])]
            wall_ms = (s.t1 - s.t0) * 1000
            self_ms = wall_ms - sum(b - a for a, b in holes)
            g = groups.get(s.id, eventlog.GroupStats())
            gc_ms += g.gc_ms
            spill += g.spill_bytes
            for a, b in g.intervals:
                if a < s.t0 * 1000 - CLOCK_SLACK_MS or b > s.t1 * 1000 + CLOCK_SLACK_MS:
                    outside += 1
            if s is root:
                continue
            covered = eventlog.covered_ms(g.intervals, s.t0 * 1000, s.t1 * 1000, holes)
            layer_self += self_ms
            k = s.name
            tot[f"{k}.s"] += self_ms / 1000
            tot[f"{k}.driver_s"] += max(0.0, self_ms - covered) / 1000
            tot[f"{k}.jobs"] += g.jobs
            tot[f"{k}.stages"] += g.stages
            tot[f"{k}.exec_ms"] += g.exec_ms
            tot[f"{k}.shuffle_read_bytes"] += g.shuffle_read_bytes
            tot[f"{k}.shuffle_write_bytes"] += g.shuffle_write_bytes
            if k in PYTHON_LAYERS:
                tot[f"{k}.python_ms"] += g.python_ms
            if k == "pipeline.score":
                tot["pipeline.score.udf_rows"] += g.python_rows.get("ArrowEvalPython", 0)
            if k == "similarity.semdedup":
                tot["similarity.semdedup.pairs"] += g.python_rows.get(
                    "FlatMapGroupsInPandas", 0)
            if k in ("checkpoint", "incremental"):
                tot[f"{k}.bytes_written"] += g.output_bytes
        incr = [(sp, c) for sp, c in tracer.calls(p, "incremental")]
        if incr:
            tot["incremental.chain_len"] = incr[-1][1].note
            # the compacting commit is the one that leaves a chain of one
            tot["incremental.compact_s"] = sum(
                sp.t1 - sp.t0 for i, (sp, c) in enumerate(incr) if i and c.note == 1
            )
        wall = root.t1 - root.t0
        per_pass.append(tot)
        accounting.append({
            "wall_s": wall, "coverage": layer_self / 1000 / wall,
            "jobs_outside_span": outside, "gc_ms": gc_ms, "spill_bytes": spill,
        })
    med = {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]}
    acc = {k: statistics.median(a[k] for a in accounting) for k in accounting[0]}
    acc["jobs_outside_span"] = max(a["jobs_outside_span"] for a in accounting)
    return med, acc


def probe_counts(tracer, pass_no: int) -> dict:
    """Counts from the recorded layer outputs of one pass (extra Spark jobs,
    run after the timed passes)."""
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.blocking import _candidate_pairs_raw

    out = {k: 0.0 for k in COUNTS}
    keys = max_block = hot = 0
    for _, c in tracer.calls(pass_no, "blocking", "build_blocks"):
        sizes = c.out.groupBy("block_key").count()
        row = sizes.agg(F.count("*").alias("n"), F.max("count").alias("mx")).first()
        keys += row["n"]
        max_block = max(max_block, row["mx"] or 0)
        df, id_col, tokens_col = c.args[:3]
        cap = c.args[3] if len(c.args) > 3 else c.kwargs.get("max_block_size")
        if cap is not None:
            hot += (
                df.select(F.col(id_col), F.explode(tokens_col).alias("k"))
                .dropDuplicates().groupBy("k").count()
                .filter(F.col("count") > cap).count()
            )
    share = 0.0
    for _, c in tracer.calls(pass_no, "blocking", "salted_pair_join"):
        left, right = c.args[:2]
        salt = c.kwargs.get("salt", c.args[2] if len(c.args) > 2 else 8)
        hot_threshold = c.kwargs.get("hot_threshold", 65536)
        per_task = (
            _candidate_pairs_raw(left, right, salt, hot_threshold)
            .groupBy(F.spark_partition_id().alias("pid")).count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
            .first()
        )
        if per_task["total"]:
            share = max(share, per_task["mx"] / per_task["total"])
    pairs = name_pairs = matched = 0
    for _, c in tracer.calls(pass_no, "pipeline.score"):
        p, ents = c.args[:2]
        sizes = ents.select("conv_id", F.size("names").alias("n"))
        row = (
            p.join(sizes.withColumnRenamed("conv_id", "left_id")
                   .withColumnRenamed("n", "ln"), "left_id")
            .join(sizes.withColumnRenamed("conv_id", "right_id")
                  .withColumnRenamed("n", "rn"), "right_id")
            .agg(F.count("*").alias("pairs"),
                 F.sum(F.col("ln") * F.col("rn")).alias("name_pairs"))
            .first()
        )
        pairs += row["pairs"]
        name_pairs += row["name_pairs"] or 0
        matched += c.out.filter(F.col("matched")).count()
    components = largest = 0
    for _, c in tracer.calls(pass_no, "components", "connected_components"):
        row = (
            c.out.groupBy("component").count()
            .agg(F.count("*").alias("n"), F.max("count").alias("mx")).first()
        )
        components += row["n"]
        largest = max(largest, row["mx"] or 0)
    candidates = verified = 0
    for _, c in tracer.calls(pass_no, "dedup.simhash", "cap_buckets"):
        kept = c.out[0]
        left = kept.select(F.col("doc").alias("l"), "q", "qv")
        right = kept.select(F.col("doc").alias("r"), "q", "qv")
        candidates += (
            left.join(right, ["q", "qv"]).filter(F.col("l") < F.col("r"))
            .select("l", "r").distinct().count()
        )
    for _, c in tracer.calls(pass_no, "dedup.simhash", "simhash_near_dups"):
        verified += c.out.count()
    out.update({
        "blocking.keys": keys, "blocking.max_block": max_block,
        "blocking.hot_keys": hot, "blocking.pairs": pairs,
        "blocking.max_task_share": share,
        "pipeline.score.name_pairs": name_pairs,
        "pipeline.score.match_ratio": matched / pairs if pairs else 0.0,
        "components.components": components, "components.largest": largest,
        "dedup.simhash.candidates": candidates,
        "dedup.simhash.verified_ratio": verified / candidates if candidates else 0.0,
    })
    return out
