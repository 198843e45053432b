"""The three workloads.  Each runs against local[nproc] with one
closed-loop client: the next operation starts only when the previous
one returned.

A workload has a set-up (``prepare``, then ``warm_up`` on the live
session) and a measuring window (``measure``) made of cycles of a
fixed composition, so per-cycle figures are comparable run to run.
Output checks run between operations, outside their timings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# engine functions are always called through their module, so the
# wrappers a traced run installs on the module attributes apply
from boltspark import corpus
from boltspark.engine import agg, compact, decode, encode, stats
from boltspark.engine import filters as Fl
from boltspark.sources import datasource
from pyspark.sql import functions as F

from . import checks, data
from .common import MB, dir_bytes, median, rmtree

# rows per workload; "tiny" is the self-test scale
SIZES = {
    "bulk_roundtrip": {"full": 12_000, "tiny": 1_500},
    "query_mix": {"full": 20_000, "tiny": 2_000},
    # (base rows, rows per append)
    "append_stream": {"full": (4_000, 1_000), "tiny": (600, 150)},
}
STREAM_PARTS = 4  # fixed n_parts of every append, as streaming.encode_stream
# nominal wall of one cycle on a 4-core host: a run makes
# max(1, round(seconds / nominal)) cycles, so the work a run does (and
# the table append_stream ends with) depends only on --seconds
NOMINAL_CYCLE_S = {"bulk_roundtrip": 6.0, "query_mix": 20.0,
                   "append_stream": 15.0}


def n_cycles(name: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_CYCLE_S[name]))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run
        self.cycles: list[dict] = []

    # set-up ------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the seeded inputs and write them as parquet."""

    def warm_up(self) -> None:
        """Set-up work on the live session, before anything is timed."""

    def after_setup(self) -> None:
        """Untimed preparation of the output checks."""

    def measure(self) -> None:
        raise NotImplementedError

    def report(self) -> dict:
        """Workload-specific end-to-end figures (name -> value, unit)."""
        return {}

    def cycle_ops(self) -> list:
        return [o for c in self.cycles for o in c["ops"]]

    def cycle_walls(self) -> list[float]:
        return [sum(o.wall for o in c["ops"]) for c in self.cycles]

    def final_dataset(self) -> tuple[str, str]:
        raise NotImplementedError

    # helpers ------------------------------------------------------------
    def write_source(self, table: pa.Table, name: str) -> str:
        path = os.path.join(self.run.work, name)
        data.write_parquet(table, path)
        return path

    def parquet_bytes(self, df) -> int:
        """Bytes of ``df.write.parquet`` of the same data (Spark defaults)."""
        out = os.path.join(self.run.work, "parquet-ref")
        rmtree(out)
        df.write.parquet(out)
        n, _ = dir_bytes(out)
        rmtree(out)
        return n

    def stored_bytes(self, blk: str, man: str) -> int:
        return dir_bytes(blk)[0] + dir_bytes(man)[0]


# --------------------------------------------------------------------------
# bulk_roundtrip


class BulkRoundtrip(Workload):
    """Each cycle encodes the whole table into a fresh blocks dataset and
    decodes every column into a noop sink."""

    name = "bulk_roundtrip"

    def prepare(self):
        r = self.run
        self.table = data.build_table(SIZES[self.name][r.scale], r.seed)
        self.src = self.write_source(self.table, "source.parquet")
        self.warm_src = self.write_source(self.table.slice(0, 256), "warm.parquet")

    def warm_up(self):
        """Encode a 256-row slice and decode it into a noop sink."""
        r = self.run
        blk = os.path.join(r.work, "warm", "blocks")
        man = os.path.join(r.work, "warm", "manifest")
        src_df = r.spark.read.parquet(self.warm_src)

        def go():
            encode.encode_table(src_df, blk, man, resume=False)
            out = decode.decode_table(r.spark, blk, man)
            with r.tracer.span("decode.execute"):
                noop(out)
        r.op("setup.warmup", go)
        rmtree(os.path.join(r.work, "warm"))

    def after_setup(self):
        r = self.run
        self.df = r.spark.read.parquet(self.src)
        self.columns = self.table.column_names
        self.expected = checks.row_hashes(self.df, self.columns)
        if r.inject_bad_hash:
            self.expected[0] = "0" * 64
        self.parquet = self.parquet_bytes(self.df)

    def measure(self):
        r = self.run
        for i in range(n_cycles(self.name, r.seconds)):
            blk = os.path.join(r.work, f"bulk-{i}", "blocks")
            man = os.path.join(r.work, f"bulk-{i}", "manifest")
            # deterministic run ids, as a streaming epoch has: a seed then
            # reproduces the stored bytes up to the manifest's timings
            o_enc, _ = r.op("encode", lambda: encode.encode_table(
                self.df, blk, man, resume=False, run_id=f"bulk-{i:06d}"))

            def dec():
                df = decode.decode_table(r.spark, blk, man)
                with r.tracer.span("decode.execute"):
                    noop(df)
            o_dec, _ = r.op("decode", dec)
            if o_dec.ok:
                got = checks.row_hashes(
                    decode.decode_table(r.spark, blk, man), self.columns)
                r.check(o_dec, got == self.expected,
                        "decoded row sha256 multiset != source")
            self.cycles.append({"ops": [o_enc, o_dec]})
            if i:
                rmtree(os.path.join(r.work, f"bulk-{i - 1}"))
        self.last = (blk, man)
        self.stored = self.stored_bytes(blk, man)

    def final_dataset(self):
        return self.last

    def report(self):
        raw_mb = data.raw_bytes(self.table) / MB
        ok = [c["ops"] for c in self.cycles if all(o.ok for o in c["ops"])]
        return {"encode_mb_s": (median([raw_mb / e.wall for e, _ in ok]), "MB/s"),
                "decode_mb_s": (median([raw_mb / d.wall for _, d in ok]), "MB/s")}

    def sizes(self):
        return self.stored, data.raw_bytes(self.table), self.parquet


# --------------------------------------------------------------------------
# query_mix


FILTER, POINT, AGG, EXPLAIN = "filter", "point", "agg", "explain"


class QueryMix(Workload):
    """A seeded mix in fixed proportions against a table encoded once
    during set-up.  Every answer is compared with DuckDB."""

    name = "query_mix"

    def prepare(self):
        r = self.run
        self.n = SIZES[self.name][r.scale]
        self.table = data.build_table(self.n, r.seed)
        self.src = self.write_source(self.table, "source.parquet")
        counts = self.table.column("repo").value_counts().to_pylist()
        by_size = sorted(counts, key=lambda c: (c["counts"], c["values"]))
        k = len(by_size)
        self.mid_repos = [c["values"] for c in by_size[k // 4: max(k // 4 + 1, 3 * k // 4)]]
        self.stars = np.sort(pc.drop_null(self.table.column("stars")).to_numpy())
        self.n_bytes = np.sort(self.table.column("n_bytes").to_numpy())

    @staticmethod
    def span(rng, sorted_vals, share: float) -> tuple[int, int]:
        """An inclusive value range holding about ``share`` of the rows."""
        k = max(1, int(share * len(sorted_vals)))
        i = int(rng.integers(0, len(sorted_vals) - k))
        return int(sorted_vals[i]), int(sorted_vals[i + k])

    def warm_up(self):
        r = self.run
        self.blk = os.path.join(r.work, "qm", "blocks")
        self.man = os.path.join(r.work, "qm", "manifest")
        df = r.spark.read.parquet(self.src)
        o, res = r.op("setup.encode", lambda: encode.encode_table(
            df, self.blk, self.man, resume=False, run_id="query-mix"))
        self.n_parts = res.n_partitions if res else 1

    def after_setup(self):
        r = self.run
        self.oracle = checks.Oracle(self.src, r.work)
        self.oracle.set_part_ids(r.spark, self.src, ("repo", "path", "commit"),
                                 self.n_parts)
        self.parquet = self.parquet_bytes(r.spark.read.parquet(self.src))

    # one cycle: 14 queries, shuffled by the seed ------------------------
    def plan(self, cycle: int) -> list[tuple]:
        rng = np.random.default_rng([self.run.seed, 7, cycle])
        dirs = corpus._DIRS
        pfx = f"{dirs[rng.integers(len(dirs))]}/{dirs[rng.integers(len(dirs))]}/"
        # parameters are drawn so each query's selectivity is the same on
        # every seed: ranges span a fixed share of the rows, and the repo
        # comes from the middle half of repos by size (sizes are Zipf)
        repo = self.mid_repos[int(rng.integers(len(self.mid_repos)))]
        stars = self.span(rng, self.stars, 0.01)
        nb = self.span(rng, self.n_bytes, 0.005)
        wide = self.span(rng, self.stars, 0.2)
        part = int(rng.integers(self.n_parts))
        start = int(rng.integers(0, max(1, self.n - 50)))
        qs = [
            ("prefix", FILTER, pfx), ("eq", FILTER, repo),
            ("range", FILTER, stars), ("content", FILTER, nb),
            ("dsv2", FILTER, stars),
            ("part_ids", POINT, part), ("row_range", POINT, start),
            ("value_counts", AGG, None), ("grouped_aggs", AGG, None),
            ("column_sum", AGG, wide),
            ("distinct_approx", AGG, None), ("quantiles", AGG, None),
            ("grouped_topk", AGG, None), ("explain", EXPLAIN, pfx),
        ]
        order = rng.permutation(len(qs))
        return [qs[i] for i in order]

    def predicate(self, name, arg):
        if name in ("prefix", "explain"):
            return Fl.BytesPrefixPredicate("path", arg.encode())
        if name == "eq":
            return Fl.BytesEqPredicate("repo", arg.encode())
        if name in ("range", "dsv2", "column_sum"):
            return Fl.RangePredicate("stars", arg[0], arg[1])
        if name == "content":
            return Fl.RangePredicate("n_bytes", arg[0], arg[1])
        return None

    def execute(self, name, arg):
        r = self.run
        sp, blk, man = r.spark, self.blk, self.man
        pred = self.predicate(name, arg)
        cols = {"prefix": ["repo", "path", "lang"], "eq": ["repo", "commit", "stars"],
                # the struct column makes this the nest rebuild path; the
                # dsv2 query is the same read through the data source
                "range": ["repo", "meta", "cost"],
                "content": ["path", "content"],
                "part_ids": ["repo", "path", "commit", "stars"],
                "row_range": ["repo", "path", "commit"]}.get(name)
        if name in ("prefix", "eq", "range", "content"):
            df = decode.decode_table(sp, blk, man, columns=cols, predicate=pred)
        elif name == "part_ids":
            df = decode.decode_table(sp, blk, man, columns=cols, part_ids=[arg])
        elif name == "row_range":
            df = decode.decode_table(sp, blk, man, columns=cols,
                                     row_range=(arg, arg + 50), include_part_id=True)
        elif name == "dsv2":
            df = (datasource.load(sp, blk, man, columns=["repo", "stars", "meta", "cost"])
                  .filter(F.col("stars").between(arg[0], arg[1]))
                  .select("repo", "meta", "cost"))
        elif name == "value_counts":
            df = agg.value_counts(sp, blk, man, "lang")
        elif name == "grouped_aggs":
            df = agg.grouped_aggs(sp, blk, man, ["lang"], ["stars", "n_bytes"])
        elif name == "column_sum":
            df = agg.column_sum(sp, blk, man, "cost", predicate=pred).select("sum_value")
        elif name == "distinct_approx":
            df = agg.column_distinct_approx(sp, blk, man, "commit")
        elif name == "quantiles":
            df = agg.column_quantiles(sp, blk, man, "n_bytes")
        elif name == "grouped_topk":
            df = agg.grouped_topk(sp, blk, man, "lang", "stars", 3).select("value", "item")
        elif name == "explain":
            df = stats.explain_scan(sp, blk, man, predicate=pred)
        layer = {"dsv2": "sources", "explain": "stats"}.get(
            name, "agg" if name in AGG_NAMES else "decode")
        with r.tracer.span(f"{layer}.execute"):
            return df.toArrow()

    def verify(self, name, arg, got: pa.Table) -> str:
        """'' when ``got`` is the right answer, else what differs."""
        o = self.oracle
        if name in ORACLE_SQL:
            params = (list(arg) if isinstance(arg, tuple)
                      else None if arg is None else [arg])
            want = o.rows(ORACLE_SQL[name], params)
            have = checks.rows(got)
            return "" if have == want else f"{len(have)} rows vs {len(want)} expected"
        if name == "distinct_approx":
            exact = o.scalar("SELECT count(DISTINCT commit) FROM src")
            est = got.column("approx_distinct")[0].as_py()
            return "" if abs(est - exact) <= 0.05 * exact else f"{est} vs {exact}"
        if name == "quantiles":
            n = o.scalar("SELECT count(n_bytes) FROM src")
            for p, v in zip(got.column("p").to_pylist(), got.column("value").to_pylist()):
                below = o.scalar("SELECT count(*) FROM src WHERE n_bytes < ?", [v])
                upto = o.scalar("SELECT count(*) FROM src WHERE n_bytes <= ?", [v])
                tol = 0.02 * n + 1
                if not (below <= p * n + tol and upto >= p * n - tol):
                    return f"p={p} value {v} has rank [{below}, {upto}] of {n}"
            return ""
        if name == "explain":
            verdict = dict(zip(got.column("verdict").to_pylist(),
                               got.column("n_rows").to_pylist()))
            match = o.scalar("SELECT count(*) FROM src WHERE starts_with(path, ?)", [arg])
            acc, opn = verdict.get("accept", 0), verdict.get("open", 0)
            total = sum(verdict.values())
            ok = total == self.n and acc <= match <= acc + opn
            return "" if ok else f"verdicts {verdict} vs {match} matching rows"
        return f"no check for {name}"

    def measure(self):
        r = self.run
        for c in range(n_cycles(self.name, r.seconds)):
            cyc = []
            for name, cls, arg in self.plan(c):
                o, got = r.op(cls, lambda: self.execute(name, arg))
                o.info["query"] = name
                if o.ok:
                    wrong = self.verify(name, arg, got)
                    r.check(o, not wrong, f"{name}: {wrong}")
                cyc.append(o)
            self.cycles.append({"ops": cyc})
        self.last_plan = self.plan(c)

    def final_dataset(self):
        return self.blk, self.man

    def class_walls(self, cls):
        return [o.wall for o in self.cycle_ops() if o.kind == cls and o.ok]

    def report(self):
        ops = self.cycle_ops()
        out = {f"{k}_query_p50_ms": (1000 * median(self.class_walls(k)), "ms")
               for k in (FILTER, POINT, AGG)}
        out["queries_per_s"] = (len(ops) / sum(o.wall for o in ops), "1/s")
        return out

    def sizes(self):
        return (self.stored_bytes(self.blk, self.man),
                data.raw_bytes(self.table), self.parquet)


AGG_NAMES = {"value_counts", "grouped_aggs", "column_sum", "distinct_approx",
             "quantiles", "grouped_topk"}

# query name -> DuckDB SQL of its answer; parameters come from the plan
ORACLE_SQL = {
    "prefix": "SELECT repo, path, lang FROM src WHERE starts_with(path, ?)",
    "eq": "SELECT repo, commit, stars FROM src WHERE repo = ?",
    "range": "SELECT repo, meta, cost FROM src WHERE stars BETWEEN ? AND ?",
    "dsv2": "SELECT repo, meta, cost FROM src WHERE stars BETWEEN ? AND ?",
    "content": "SELECT path, content FROM src WHERE n_bytes BETWEEN ? AND ?",
    "part_ids": "SELECT s.repo, s.path, s.commit, s.stars FROM src s "
                 "JOIN pid USING (repo, path, commit) WHERE pid.part_id = ?",
    "row_range": "SELECT s.repo, s.path, s.commit, pid.part_id FROM src s "
                  "JOIN pid USING (repo, path, commit) "
                  "ORDER BY pid.part_id, s.repo, s.path, s.commit "
                  "LIMIT 50 OFFSET ?",
    "value_counts": "SELECT lang, count(*) FROM src GROUP BY lang",
    "grouped_aggs": "SELECT lang, sum(stars)::DOUBLE, avg(stars), count(stars), "
                     "sum(n_bytes)::DOUBLE, avg(n_bytes), count(n_bytes), count(*) "
                     "FROM src GROUP BY lang",
    "column_sum": "SELECT sum(cost) FROM src WHERE stars BETWEEN ? AND ?",
    "grouped_topk": "SELECT lang, stars FROM (SELECT lang, stars, row_number() "
                     "OVER (PARTITION BY lang ORDER BY stars DESC) AS rn FROM src "
                     "WHERE stars IS NOT NULL) WHERE rn <= 3",
}


# --------------------------------------------------------------------------
# append_stream


class AppendStream(Workload):
    """Small appends beside reads: each append (fixed n_parts, run id
    ``stream-<epoch>``) is followed by a read of the newest run or by an
    aggregate; then one idempotent replay and one compaction."""

    name = "append_stream"

    def prepare(self):
        r = self.run
        base, step = SIZES[self.name][r.scale]
        self.n_appends = 2 * n_cycles(self.name, r.seconds)
        self.table = data.build_table(base + self.n_appends * step, r.seed)
        self.base = self.table.slice(0, base)
        self.batches = [self.table.slice(base + i * step, step)
                        for i in range(self.n_appends)]
        self.base_src = self.write_source(self.base, "base.parquet")
        self.batch_src = [self.write_source(b, f"append-{i + 1}.parquet")
                          for i, b in enumerate(self.batches)]

    def warm_up(self):
        r = self.run
        self.blk = os.path.join(r.work, "stream", "blocks")
        self.man = os.path.join(r.work, "stream", "manifest")
        df = r.spark.read.parquet(self.base_src)
        r.op("setup.encode", lambda: encode.encode_table(
            df, self.blk, self.man,
            n_parts=STREAM_PARTS, resume=False, run_id=run_id(0)))

    def after_setup(self):
        self.batch_rows = [checks.rows(b) for b in self.batches]

    def measure(self):
        r = self.run
        sp = r.spark
        n_bytes_total = pc.sum(self.base.column("n_bytes")).as_py()
        pair: list = []
        for i, src in enumerate(self.batch_src, start=1):
            rid = run_id(i)
            df = sp.read.parquet(src)
            o_app, _ = r.op("append", lambda: encode.encode_table(
                df, self.blk, self.man, n_parts=STREAM_PARTS,
                resume=False, run_id=rid))
            n_bytes_total += pc.sum(self.batches[i - 1].column("n_bytes")).as_py()
            if i % 2:
                def read():
                    df = decode.decode_table(sp, self.blk, self.man, run_ids=[rid])
                    with r.tracer.span("decode.execute"):
                        return df.toArrow()
                o, got = r.op("read", read)
                if o.ok:
                    r.check(o, checks.rows(got) == self.batch_rows[i - 1],
                            f"run {rid}: rows differ from the appended batch")
            else:
                def total():
                    df = agg.column_sum(sp, self.blk, self.man, "n_bytes")
                    with r.tracer.span("agg.execute"):
                        return df.toArrow()
                o, got = r.op("agg", total)
                if o.ok:
                    r.check(o, got.column("sum_value")[0].as_py() == n_bytes_total,
                            "sum(n_bytes) after append is wrong")
            pair += [o_app, o]
            if len(pair) == 4:
                self.cycles.append({"ops": pair})
                pair = []

        before = dir_bytes(self.man)
        df = sp.read.parquet(self.batch_src[0])
        o_rep, res = r.op("replay", lambda: encode.encode_table(
            df, self.blk, self.man,
            n_parts=STREAM_PARTS, resume=False, run_id=run_id(1)))
        if o_rep.ok:
            r.check(o_rep, res.n_planned == 0 and dir_bytes(self.man) == before,
                    "replay of a committed run id changed the table")

        self.files_before = dir_bytes(self.blk)[1]
        self.cblk = os.path.join(r.work, "compacted", "blocks")
        self.cman = os.path.join(r.work, "compacted", "manifest")
        o_cmp, _ = r.op("compact", lambda: compact.compact_blocks(
            sp, self.blk, self.man, self.cblk, self.cman))
        self.compact_op = o_cmp
        every = sp.read.parquet(self.base_src, *self.batch_src)
        if o_cmp.ok:
            cols = self.table.column_names
            got = checks.row_hashes(decode.decode_table(sp, self.cblk, self.cman), cols)
            want = checks.row_hashes(every, cols)
            if r.inject_bad_hash:
                want[0] = "0" * 64
            r.check(o_cmp, got == want,
                    "compacted table row sha256 multiset != base + appends")
        self.parquet = self.parquet_bytes(every)

    def final_dataset(self):
        return self.cblk, self.cman

    def walls(self, kind):
        return [o.wall for o in self.cycle_ops() if o.kind == kind and o.ok]

    def report(self):
        appends = [o for o in self.cycle_ops() if o.kind == "append" and o.ok]
        step = data.raw_bytes(self.batches[0])
        return {"append_p50_s": (median(self.walls("append")), "s"),
                "read_after_append_p50_ms": (1000 * median(self.walls("read")), "ms"),
                "agg_after_append_p50_ms": (1000 * median(self.walls("agg")), "ms"),
                "encode_mb_s": (median([step / MB / o.wall for o in appends]), "MB/s"),
                "compact_s": (self.compact_op.wall, "s")}

    def sizes(self):
        return (self.stored_bytes(self.cblk, self.cman),
                data.raw_bytes(self.table), self.parquet)


def run_id(epoch: int) -> str:
    """The run id streaming.encode_stream gives epoch ``epoch``."""
    return f"stream-{epoch:012d}"


WORKLOADS = {w.name: w for w in (BulkRoundtrip, QueryMix, AppendStream)}
