"""Driver-side cache of decoded parquet row groups, addressed by key.

A getDocs page reads a few keys from a few row groups: its query terms'
dictionary rows (key ``term``), their segment rows (key ``term``) and
its page bodies (key ``doc_id``). Decoding a row group costs ~1-8 ms
however few rows are wanted, so the driver keeps decoded row groups in
one process-wide, byte-budgeted, thread-safe LRU. Each entry is its row
group ordered by the key column (a stable sort, so rows of one key keep
their file order) with a key -> run directory, so a lookup is a dict
probe plus one ``take``. Whole-row-group reads (a shard's docmeta, for
filters and aggregations) keep the order but build no directory. An
entry is filled on first miss with the columns asked for and grows a
column when a later read asks for it (term-only queries never decode
position columns). Entries are keyed by (path, size, mtime_ns,
row-group id), with the file stats taken when the dataset opens: a
reader or table handle opened on rewritten files never sees the old
rows, and entries of files no handle reads any more age out of the LRU.

Spark tasks read parquet directly: their ``Source`` has no stats.
"""

from __future__ import annotations

import sys
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

# Resident bytes the cache may hold: decoded Arrow buffers plus the key
# directories (BASELINE.md, "One row-group cache").
ROW_CACHE_BYTES = 256 << 20


class Source:
    """A pyarrow dataset and, when reads of it are cached, each file's
    (size, mtime_ns) at open; ``stats`` None reads parquet every time."""

    def __init__(self, dataset: ds.Dataset, stats: dict | None = None):
        self.dataset = dataset
        self.stats = stats
        self._row_groups: dict = {}

    def row_groups(self, key: str) -> list:
        """Every row group as (hive partition values, cache key,
        row-group fragment, min and max of ``key`` or None when the
        file holds no statistics, uncompressed bytes): listed once per
        Source, so a read
        prunes files and row groups with a Python loop, not a pyarrow
        expression bound per call."""
        groups = self._row_groups.get(key)
        if groups is None:
            groups = []
            for frag in self.dataset.get_fragments():
                part = ds.get_partition_keys(frag.partition_expression)
                size, mtime = self.stats[frag.path]
                for rg in frag.split_by_row_group():
                    info = rg.row_groups[0]
                    st = (info.statistics or {}).get(key) or {}
                    groups.append((
                        part, (frag.path, size, mtime, info.id), rg,
                        st.get("min"), st.get("max"), info.total_byte_size,
                    ))
            self._row_groups[key] = groups
        return groups


def open_source(dataset: ds.Dataset) -> Source:
    """``dataset`` with its files' stats taken now: reads through the
    cache."""
    infos = dataset.filesystem.get_file_info(dataset.files)
    return Source(dataset, {i.path: (i.size, i.mtime_ns) for i in infos})


class _Entry:
    """One row group ordered by its key column: ``order`` the stable
    sort permutation (None when the file order is already sorted),
    ``index`` key -> run number (the key column holds no nulls),
    ``bounds`` the run starts followed by the row count (both None
    without a ``directory``), ``columns`` the columns decoded so far,
    ``tables`` a table per column list read so far (columns are only
    ever added, so a built table stays valid)."""

    __slots__ = ("order", "index", "bounds", "columns", "tables", "nbytes")

    def __init__(self, tbl: pa.Table, key: str, directory: bool = True):
        order = pc.sort_indices(tbl, sort_keys=[(key, "ascending")]).to_numpy()
        self.order = None if np.array_equal(order, np.arange(order.size)) else order
        tbl = self.ordered(tbl)
        self.columns = dict(zip(tbl.column_names, tbl.columns))
        self.tables: dict = {}
        self.nbytes = sum(c.get_total_buffer_size() for c in self.columns.values())
        self.index = self.bounds = None
        if not directory:
            return
        keys = tbl[key].combine_chunks()
        starts = np.flatnonzero(
            pc.not_equal(keys[1:], keys[:-1]).to_numpy(zero_copy_only=False)
        ) + 1
        if len(keys):
            starts = np.concatenate(([0], starts))
        distinct = keys.take(starts)
        # to_numpy().tolist(), not to_pylist(): ~20x faster for these types
        self.index = dict(zip(distinct.to_numpy(zero_copy_only=False).tolist(), range(len(starts))))
        self.bounds = np.append(starts, len(keys)).astype(np.int64)
        # the directory's Python objects, estimated: the dict, and per
        # key a str or int object header plus its run-number int
        self.nbytes += (
            sys.getsizeof(self.index)
            + distinct.get_total_buffer_size()
            + 80 * len(starts)
            + self.bounds.nbytes
        )

    def ordered(self, tbl: pa.Table) -> pa.Table:
        """``tbl``, read from this row group in file order, in key order."""
        return tbl if self.order is None else tbl.take(self.order)

    def add(self, columns: dict) -> int:
        """Holds the key-ordered ``columns`` it lacks; returns the bytes added."""
        added = 0
        for name, col in columns.items():
            if name not in self.columns:
                self.columns[name] = col
                added += col.get_total_buffer_size()
        self.nbytes += added
        return added

    def runs(self, keys) -> list[tuple[int, object]]:
        """(run number, key) of each of ``keys`` held here, in key order."""
        return sorted({(i, k) for k in keys if (i := self.index.get(k)) is not None})

    def table(self, columns: list[str]) -> pa.Table:
        """The held ``columns`` as one table, built once per column list."""
        key = tuple(columns)
        tbl = self.tables.get(key)
        if tbl is None:
            tbl = self.tables[key] = pa.table([self.columns[c] for c in columns], names=columns)
        return tbl

    def run(self, tbl: pa.Table, i: int) -> pa.Table:
        """Run ``i`` of ``tbl`` (a table of this entry): a zero-copy slice."""
        lo, hi = int(self.bounds[i]), int(self.bounds[i + 1])
        return tbl.slice(lo, hi - lo)


class RowGroupCache:
    """The LRU of _Entry by (path, size, mtime_ns, row-group id), held
    to ``budget`` resident bytes. ``hits`` counts row-group lookups
    served from memory, ``misses`` those that decoded parquet (a new
    entry or a column added to one)."""

    def __init__(self, budget: int):
        self.budget = budget
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()
        self.bytes = self.hits = self.misses = self.evictions = 0

    def entry(self, key: tuple, fragment, schema, key_col: str, columns, keys, size: int) -> _Entry:
        """The entry of the row group ``fragment`` (cache key ``key``)
        holding ``columns``, decoding what it lacks; ``keys`` None asks
        for the whole row group, with no key directory. A row group of
        more than ``budget`` uncompressed bytes could never stay
        resident: it is read filtered to ``keys`` into a transient entry
        instead."""
        directory = keys is not None
        if size > self.budget:
            with self._lock:
                self.misses += 1
            flt = ds.field(key_col).isin(list(keys)) if directory else None
            cols = list(dict.fromkeys([key_col, *columns]))
            return _Entry(fragment.to_table(columns=cols, filter=flt, schema=schema), key_col, directory)
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
            missing = [c for c in columns if entry is None or c not in entry.columns]
            if missing:
                self.misses += 1
            else:
                self.hits += 1
        if entry is None:
            read = fragment.to_table(columns=list(dict.fromkeys([key_col, *columns])), schema=schema)
            entry = self._store(key, _Entry(read, key_col, directory))
        elif missing:
            read = entry.ordered(fragment.to_table(columns=missing, schema=schema))
            self._grow(key, entry, dict(zip(read.column_names, read.columns)))
        return entry

    def _store(self, key: tuple, entry: _Entry) -> _Entry:
        """Inserts ``entry``; when another thread stored this row group
        first, grows that one by ``entry``'s columns instead."""
        with self._lock:
            held = self._entries.get(key)
            if held is None:
                self._entries[key] = entry
                self.bytes += entry.nbytes
                self._evict()
                return entry
        self._grow(key, held, entry.columns)
        return held

    def _grow(self, key: tuple, entry: _Entry, columns: dict) -> None:
        with self._lock:
            added = entry.add(columns)
            if self._entries.get(key) is entry:
                self.bytes += added
                self._evict()

    def _evict(self) -> None:
        while self.bytes > self.budget and self._entries:
            _key, old = self._entries.popitem(last=False)
            self.bytes -= old.nbytes
            self.evictions += 1

    def stats(self) -> dict:
        with self._lock:
            return {
                "hits": self.hits,
                "misses": self.misses,
                "evictions": self.evictions,
                "entries": len(self._entries),
                "bytes": self.bytes,
                "budget": self.budget,
            }


ROW_CACHE = RowGroupCache(ROW_CACHE_BYTES)


def _entries(src: Source, key: str, keys, columns: list[str], partition: dict):
    """(hive partition values, entry holding ``columns``) of each row
    group of the cached ``src`` that may hold ``keys`` (every row group
    when None): files pruned by ``partition`` (column -> allowed
    values), row groups by their ``key`` min/max. Whole-row-group
    entries, which have no directory, are cached apart from keyed ones."""
    schema = src.dataset.schema
    for part, ckey, rg, lo, hi, size in src.row_groups(key):
        if any(part.get(c) not in vals for c, vals in partition.items()):
            continue
        if keys is None:
            ckey = (*ckey, "rows")
        elif lo is not None and hi is not None and not any(lo <= k <= hi for k in keys):
            continue
        yield part, ROW_CACHE.entry(ckey, rg, schema, key, columns, keys, size)


def read_rows(src: Source, key: str, keys, columns: list[str], partition: dict | None = None) -> pa.Table:
    """The rows of ``src`` whose ``key`` column is in ``keys``, with
    ``columns``, from the files whose hive partition values are in
    ``partition`` (column -> allowed values; every file when None).
    Cached sources read each row group that may hold a key through
    ROW_CACHE; rows come per row group in file order, each row group's
    in key order. Uncached sources are one filtered ``to_table``."""
    partition = {c: set(v) for c, v in (partition or {}).items()}
    if src.stats is None:
        flt = ds.field(key).isin(list(keys))
        for col, vals in partition.items():
            flt &= ds.field(col).isin(sorted(vals))
        return src.dataset.to_table(columns=columns, filter=flt)
    out = []
    for _part, entry in _entries(src, key, keys, columns, partition):
        runs = entry.runs(keys)
        if runs:
            tbl = entry.table(columns)
            if len(runs) == 1:
                out.append(entry.run(tbl, runs[0][0]))
            else:
                idx = [np.arange(entry.bounds[i], entry.bounds[i + 1]) for i, _k in runs]
                out.append(tbl.take(np.concatenate(idx)))
    return pa.concat_tables(out) if out else src.dataset.schema.empty_table().select(columns)


def read_runs(src: Source, key: str, keys, columns: list[str], partition: dict | None = None):
    """read_rows of a cached ``src`` as zero-copy slices, one per key
    per row group: yields (hive partition values, key, rows)."""
    partition = {c: set(v) for c, v in (partition or {}).items()}
    for part, entry in _entries(src, key, keys, columns, partition):
        runs = entry.runs(keys)
        if runs:
            tbl = entry.table(columns)
            for i, k in runs:
                yield part, k, entry.run(tbl, i)


def read_groups(src: Source, key: str, columns: list[str], partition: dict | None = None):
    """Every row group of the cached ``src`` in the files whose hive
    partition values are in ``partition``, whole, through ROW_CACHE:
    yields (hive partition values, its ``columns`` ordered by ``key``)."""
    partition = {c: set(v) for c, v in (partition or {}).items()}
    for part, entry in _entries(src, key, None, columns, partition):
        yield part, entry.table(columns)
