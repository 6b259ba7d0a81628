"""Atomic multi-table snapshot store (Iceberg-style commit semantics).

The north rule requires frontier state, the seen set, and per-partition
lineage/metrics to checkpoint so a killed run resumes bit-identically.
The Iceberg runtime jar is not available in this sandbox, so this module
provides the same *contract* over plain parquet:

- every round writes each table's data under ``<root>/<table>/r<k>/``,
  except a ``_tbl``-tagged union of several tables (the crawl's round
  state: frontier, seen delta, metrics, robots delta), which is ONE
  ``partitionBy("_tbl")`` write under ``<root>/round_state/r<k>/``; each
  of its tables records its ``_tbl=<name>`` leaf directory (a tag with no
  rows writes no directory and records no path);
- the round becomes visible only when ``<root>/_commits/r<k>.json`` is
  written and ``<root>/_CURRENT`` is atomically replaced (``os.replace``
  — POSIX-atomic) to point at it;
- a crash mid-round leaves ``_CURRENT`` at round k-1: half-written
  ``r<k>`` data is invisible and simply overwritten on resume (writes are
  idempotent per round — snapshot isolation for readers, write-once per
  round for writers);
- time-travel: ``read(table, round=j)`` for any committed j.

Two table classes, mirroring how the Iceberg layout would look:
- **state** tables (frontier): each round stores the complete current
  state; ``read`` returns the round's files only.  (At 100 TB the frontier
  would be an Iceberg MERGE target; a full rewrite per round of the
  *pending* frontier is fine because fetched rows leave the state table
  for the append-only log.)
- **append** tables (documents, metrics, seen, robots): each round stores
  only that round's new rows; ``read`` unions all committed rounds —
  exactly an Iceberg append snapshot chain.  ``seen`` and ``robots`` grow
  by per-round deltas, so a commit's size follows the round's delta, not
  the crawl's history.  A store whose earlier rounds held them as state
  tables (one full path per round) still reads right: the new delta paths
  extend that last full path.
"""

from __future__ import annotations

import json
import os
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TableKind = Literal["state", "append"]


class SnapshotStore:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_round(self) -> int:
        """Latest committed round, or -1 if nothing committed."""
        try:
            with open(self._current_path()) as f:
                return json.load(f)["round"]
        except FileNotFoundError:
            return -1

    def _commit_meta(self, round_no: int) -> dict:
        with open(os.path.join(self.root, "_commits", f"r{round_no}.json")) as f:
            return json.load(f)

    def commit_round(
        self,
        round_no: int,
        tables: dict[str, tuple[DataFrame, TableKind]],
        extras: dict | None = None,
        union: tuple[DataFrame, dict[str, tuple[TableKind, StructType]]] | None = None,
    ) -> DataFrame | None:
        """Write all tables for ``round_no`` and atomically publish.

        ``extras`` carries small driver-side state (e.g. Bloom shard file
        pointers, config echo) into the commit record.  Each table's entry
        records its schema, so ``read`` needs no footer-inference job; an
        append table whose rounds disagree on the schema records none.

        ``union`` is ``(df, {name: (kind, schema)})``: ``df`` carries the
        named tables' rows tagged by a ``_tbl`` column, their columns
        padded with nulls.  It is written in ONE ``partitionBy("_tbl")``
        write and returned read back, ``_tbl`` included (None without a
        ``union``).  Each tag's leaf files hold the padded columns, so its
        entry always records its own ``schema``: read with it, a leaf
        yields exactly that table's columns.
        """
        manifest: dict = {"round": round_no, "tables": {}, "extras": extras or {}}
        prev = self._commit_meta(round_no - 1)["tables"] if round_no > 0 else {}

        def record(name, kind, paths, schema, tagged=False):
            schema = schema.jsonValue()
            if kind == "append":
                lineage = prev.get(name, {}).get("paths", [])
                paths = [*lineage, *paths]
                if lineage and not tagged and prev[name].get("schema") != schema:
                    schema = None
            manifest["tables"][name] = {
                "kind": kind, "paths": paths, "schema": schema,
            }

        for name, (df, kind) in tables.items():
            rel = os.path.join(name, f"r{round_no}")
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
            record(name, kind, [rel], df.schema)
        back = None
        if union is not None:
            df, tags = union
            rel = os.path.join("round_state", f"r{round_no}")
            path = os.path.join(self.root, rel)
            df.write.mode("overwrite").partitionBy("_tbl").parquet(path)
            back = self.spark.read.schema(df.schema).parquet(path)
            for name, (kind, schema) in tags.items():
                leaf = os.path.join(rel, f"_tbl={name}")
                exists = os.path.isdir(os.path.join(self.root, leaf))
                record(name, kind, [leaf] if exists else [], schema, tagged=True)
        # carry forward tables not rewritten this round
        for name, meta in prev.items():
            manifest["tables"].setdefault(name, meta)

        commit_file = os.path.join(self.root, "_commits", f"r{round_no}.json")
        tmp = commit_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, commit_file)

        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            json.dump({"round": round_no}, f)
        os.replace(cur_tmp, self._current_path())
        return back

    # -- reads ---------------------------------------------------------------

    def read(self, table: str, round_no: int | None = None) -> DataFrame:
        rnd = self.current_round() if round_no is None else round_no
        if rnd < 0:
            raise FileNotFoundError(f"no committed snapshot for {table}")
        meta = self._commit_meta(rnd)["tables"][table]
        paths = [os.path.join(self.root, p) for p in meta["paths"]]
        reader = self.spark.read
        if meta.get("schema"):
            # manifests written before schemas were recorded have none:
            # those tables are still read by inference
            reader = reader.schema(StructType.fromJson(meta["schema"]))
        return reader.parquet(*paths)

    def has_table(self, table: str, round_no: int | None = None) -> bool:
        rnd = self.current_round() if round_no is None else round_no
        if rnd < 0:
            return False
        return table in self._commit_meta(rnd)["tables"]

    def extras(self, round_no: int | None = None) -> dict:
        rnd = self.current_round() if round_no is None else round_no
        if rnd < 0:
            return {}
        return self._commit_meta(rnd).get("extras", {})


__all__ = ["SnapshotStore"]
