"""File-level table core shared by the three lakehouse formats.

``snapshots.py`` (own JSON manifests), ``iceberg.py`` (Avro manifest
tree) and ``deltalog.py`` (JSON transaction log) differ only in how
they encode table metadata. What touches the data files lives here:

- **stage** — one Spark parquet write, then one footer pass per
  written file (``DataFile``: rows, bytes, min/max, hive partition
  values);
- **skip** — ``may_match``, the min/max file-skipping predicate;
- **scan** — schema-pinned multi-path reads per file ``Group`` with
  the decoded file path, row index and per-file attributes (sequence
  numbers, partition values);
- **delete merge** — position and equality deletes as anti-joins
  (``read_deletes``, ``merge_deletes``).

A codec decides which files a read covers, which schema pins each
group and which attributes each file carries.
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import functions as F

from ..io import local_rows_df

#: scan columns: decoded file path, row index, data sequence number
PATH, POS, SEQ = "_tc_path", "_tc_pos", "_tc_seq"
#: the matching delete-frame columns
DEL_PATH, DEL_POS, DEL_SEQ = "_tc_dpath", "_tc_dpos", "_tc_dseq"

#: max file count for the literal-map attach, which replaced a
#: driver-built frame plus broadcast join (~0.3 s of driver wall per
#: read); past it the join comes back, so a 100 TB manifest does not
#: become a million-node expression
_SEQ_LITERAL_MAX = 1024
#: delete files summing under this are broadcast into the anti-join
_BC_DELETE_BYTES = 64 << 20
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class DataFile:
    path: str  # absolute
    rows: int
    size: int
    mins: dict
    maxs: dict
    partition: dict  # hive dir values, unescaped; None = NULL


def footer_stats(path: str) -> tuple[int, dict, dict]:
    """(rows, mins, maxs) from one parquet footer. A column's bounds
    count only when EVERY row group has min/max (partial bounds would
    be narrower than the file and make skipping unsound). Nested
    columns are skipped; byte strings decode as UTF-8, and an
    undecodable one drops the column."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    bad: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name, st = col.path_in_schema, col.statistics
            if "." in name or name in bad:
                continue
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    bad.add(name)
                    continue
            mins[name] = min(mins[name], mn) if name in mins else mn
            maxs[name] = max(maxs[name], mx) if name in maxs else mx
    for name in bad:
        mins.pop(name, None)
        maxs.pop(name, None)
    return md.num_rows, mins, maxs


def stage(df, out_dir: str, partition_by=(), labels: dict | None = None
          ) -> list[DataFile]:
    """Write ``df`` as parquet under ``out_dir``; describe each file,
    in path order.

    Hive ``partitionBy`` writes '' into the NULL directory, so a
    string partition value '' fails closed first: one early-exit
    ``take(1)`` probe (``labels`` renames columns in the error). The
    write then hash-repartitions on the partition columns: a
    single-input-partition frame otherwise writes every directory from
    one task (measured 1.6 s in one task for an 80-partition commit)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        strs = [c for c, t in df.dtypes if c in partition_by and t == "string"]
        hit = strs and df.where(
            reduce(lambda a, b: a | b, [F.col(c) == "" for c in strs])
        ).select(*strs).take(1)
        if hit:
            c = next(c for c in strs if hit[0][c] == "")
            raise ValueError(
                f"empty-string partition value in column "
                f"{(labels or {}).get(c, c)!r}: hive-style staging cannot "
                f"distinguish '' from NULL ({_HIVE_NULL}); filter or "
                "transform the column before partitioning on it"
            )
        writer = (
            df.repartition(*[F.col(c) for c in partition_by])
            .write.mode("overwrite").partitionBy(*partition_by)
        )
    writer.parquet(out_dir)
    out = []
    for p in sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(out_dir)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ):
        part = {}
        for seg in os.path.relpath(os.path.dirname(p), out_dir).split(os.sep):
            if "=" in seg:
                k, v = seg.split("=", 1)
                part[k] = None if v == _HIVE_NULL else urllib.parse.unquote(v)
        rows, mins, maxs = footer_stats(p)
        out.append(DataFile(p, rows, os.path.getsize(p), mins, maxs, part))
    return out


def may_match(mins: dict, maxs: dict, intervals: dict) -> bool:
    """False only when the bounds PROVE that no row satisfies every
    ``{col: (lo, hi)}`` interval (None = unbounded). Missing stats and
    uncomparable values keep the file."""
    for col, (lo, hi) in intervals.items():
        mn, mx = mins.get(col), maxs.get(col)
        try:
            if hi is not None and mn is not None and mn > hi:
                return False
            if lo is not None and mx is not None and mx < lo:
                return False
        except TypeError:
            continue
    return True


def norm_path_col(c):
    """``_metadata.file_path`` is a percent-encoded URI, while codecs
    record raw os paths (a directory with a space made every path join
    miss). Strip the scheme and decode %XX JVM-side; '+' is
    pre-escaped because ``url_decode`` is form-decoding."""
    c = F.regexp_replace(c, r"\+", "%2B")
    return F.url_decode(F.regexp_replace(c, "^file:/+", "/"))


@dataclass
class Group:
    """Files read by one multi-path parquet read."""

    paths: list
    #: StructType/DDL pin; None = footer inference
    schema: object = None
    options: dict = field(default_factory=dict)
    #: frame -> frame, applied after PATH/POS are added, before union
    project: object = None


def scan(spark, groups, fields=(), by_path=None, with_pos=False):
    """Union by name of one read per group. A pinned schema skips the
    driver's footer inference (~0.15 s per relation build), and one
    multi-path read replaces per-file reads that each paid a relation
    build (~0.13 s per file).

    ``fields`` ([(name, type)]) are per-file attributes taken from
    ``by_path`` ({path: values}). A group whose files share one value
    tuple gets it as literals; a group whose files differ gets
    ``_attach``'s lookup on the decoded file path ``PATH``, which costs
    a path decode per row (1–2 µs of task time on 4 vCPUs; with the
    lookup on every group the snapshot delete benchmark key went from
    1.9 s to 3.0 s). ``with_pos`` adds ``PATH`` and the row index
    ``POS``."""
    by_path = {os.path.abspath(p): v for p, v in (by_path or {}).items()}
    parts = []
    for g in groups:
        reader = spark.read.options(**g.options)
        if g.schema is not None:
            reader = reader.schema(g.schema)
        df = reader.parquet(*g.paths)
        vals = ({p: by_path[p] for p in map(os.path.abspath, g.paths)}
                if fields else {})
        distinct = set(vals.values())
        if with_pos or len(distinct) > 1:
            # _metadata resolves only on the scan relation itself
            df = df.select(
                "*", norm_path_col(F.col("_metadata.file_path")).alias(PATH),
                *([F.col("_metadata.row_index").alias(POS)] if with_pos
                  else []),
            )
        df = g.project(df) if g.project else df
        if len(distinct) == 1:
            df = df.select("*", *[
                F.lit(v).cast(t).alias(n)
                for v, (n, t) in zip(distinct.pop(), fields)
            ])
        elif distinct:
            df = _attach(spark, df, fields, vals)
        parts.append(df)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _attach(spark, df, fields, by_path: dict):
    """Per-file attribute columns by ``PATH``: a literal map lookup up
    to ``_SEQ_LITERAL_MAX`` files, a broadcast join past it."""
    if len(by_path) > _SEQ_LITERAL_MAX:
        ddl = ", ".join([f"{PATH} string"] + [f"{n} {t}" for n, t in fields])
        rows = [(p, *vals) for p, vals in by_path.items()]
        return df.join(F.broadcast(local_rows_df(spark, rows, ddl)), PATH)
    hit = F.element_at(F.create_map(*[
        x
        for p, vals in by_path.items()
        for x in (F.lit(p), F.struct(*[
            F.lit(v).cast(t).alias(n) for v, (n, t) in zip(vals, fields)
        ]))
    ]), F.col(PATH))
    return df.withColumns({n: hit[n] for n, _ in fields})


def read_deletes(spark, groups, seqs: dict, nbytes: int):
    """Delete files scanned like data, each row tagged with its file's
    sequence number (``DEL_SEQ``); broadcast under
    ``_BC_DELETE_BYTES``."""
    d = scan(spark, groups, [(DEL_SEQ, "long")],
             {p: (s,) for p, s in seqs.items()}).drop(PATH)
    return F.broadcast(d) if nbytes < _BC_DELETE_BYTES else d


def merge_deletes(df, pos=None, eq=()):
    """Anti-join ``df`` (carrying ``PATH``/``POS``/``SEQ``) against
    deletes, one pass per delete frame. ``pos`` (``DEL_PATH``/
    ``DEL_POS``/``DEL_SEQ``) removes the named rows where data seq <=
    delete seq. Each ``(frame, {data col: delete col})`` in ``eq``
    removes rows whose key matches null-safe where data seq < delete
    seq, so rows of the delete's own commit survive."""
    if pos is not None:
        df = df.join(
            pos,
            (df[PATH] == pos[DEL_PATH]) & (df[POS] == pos[DEL_POS])
            & (df[SEQ] <= pos[DEL_SEQ]),
            "left_anti",
        )
    for d, cols in eq:
        cond = reduce(
            lambda a, c: a & df[c].eqNullSafe(d[cols[c]]),
            cols, df[SEQ] < d[DEL_SEQ],
        )
        df = df.join(d, cond, "left_anti")
    return df
