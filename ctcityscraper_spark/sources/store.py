"""ParquetStore — append-only Parquet tables with scope namespacing.

Layout matches the reference exactly (src/engine/database.py:53, 156-158;
README.md:98-116): ``<data_dir>/<scope>/<table>/*.parquet``, append-only,
ZSTD-compressed, schema drift tolerated across files within a table
(union-by-name semantics, database.py:275).

Scale notes:
- Scans are ``spark.read.parquet`` on the table directory — column pruning
  and predicate pushdown reach the parquet reader via Catalyst. Each store
  keeps the schema a read inferred, keyed by (path, merge_schema,
  tolerate_corrupt), with the listing (path, size, mtime) of the data files
  it was inferred from; while the listing is unchanged a read passes that
  schema and runs no inference job. Store files are write-once, so every
  append, compaction, rehash or snapshot swap changes the listing.
- ``existing_hashes`` / ``known_entry_ids`` return DataFrames (distributed),
  not driver-side sets — the reference's in-memory hash set
  (database.py:86-106) becomes a left-anti join at any scale.
- Compaction rewrites only the files of one ingest session (the reference's
  N-batch-files -> 1, database.py:246-288); at cluster scale the same pass is
  a ``repartition`` rewrite sized by bytes, which ``compact`` approximates
  with a target file size.
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ctcityscraper_spark.functions.hashing import stamp_metadata


class ParquetStore:
    def __init__(self, spark: SparkSession, data_dir: str | Path, scope_key: str):
        self.spark = spark
        self.data_dir = Path(data_dir)
        self.scope_key = scope_key
        self.scope_dir = self.data_dir / scope_key
        # (path, merge_schema, tolerate_corrupt) -> (file listing, schema)
        self._schemas: dict[tuple[str, bool, bool], tuple[tuple, StructType]] = {}

    # ------------------------------------------------------------------ paths
    def table_path(self, table: str) -> Path:
        return self.scope_dir / table

    def table_exists(self, table: str) -> bool:
        p = self.table_path(table)
        return p.exists() and any(p.glob("*.parquet"))

    def tables(self) -> list[str]:
        if not self.scope_dir.exists():
            return []
        return sorted(
            d.name
            for d in self.scope_dir.iterdir()
            if d.is_dir() and not d.name.startswith("_") and any(d.glob("*.parquet"))
        )

    # ------------------------------------------------------------------ scans
    def scan(
        self,
        table: str,
        merge_schema: bool = True,
        tolerate_corrupt: bool = False,
    ) -> DataFrame:
        """Universal table scan (reference S1/S2).

        ``mergeSchema`` on by default because schema drift across session
        files is an expected state (reference database.py:275).

        ``tolerate_corrupt`` sets the per-read ``ignoreCorruptFiles``
        option: a 100 TB lake accumulated over months of ingest WILL
        contain the occasional truncated/bit-rotted file (killed writer,
        storage fault), and the default fail-fast read aborts the whole
        job on the first bad footer. With the flag, corrupt files are
        skipped and the scan returns every readable row — the right
        posture for analytical sweeps over historical data; keep the
        default for correctness-critical reads (dedup state, SCD2
        current) where silently missing rows would corrupt results. The
        option is per-DataFrameReader, so it never leaks into other
        reads the way the session-wide
        ``spark.sql.files.ignoreCorruptFiles`` conf would.

        The inferred schema is reused while the table's data files are
        unchanged (same paths, sizes and mtimes), separately for each
        (``merge_schema``, ``tolerate_corrupt``) pair, so a repeated scan of
        an unchanged table starts no Spark job.
        """
        return self._read(self.table_path(table), merge_schema, tolerate_corrupt)

    def _read(self, path: Path, merge_schema: bool, tolerate_corrupt: bool) -> DataFrame:
        """``spark.read.parquet(path)``, passing the schema inferred by an
        earlier read while the listing of ``path``'s data files is unchanged.

        The listing is taken before the read, so a file landing during a
        missed read leaves a listing that no longer matches and the next read
        infers again; a kept schema is never paired with files it was not
        inferred from.
        """
        key = (str(path), merge_schema, tolerate_corrupt)
        files = _data_files(path)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if tolerate_corrupt:
            reader = reader.option("ignoreCorruptFiles", "true")
        kept = self._schemas.get(key)
        if kept is not None and kept[0] == files:
            return reader.schema(kept[1]).parquet(str(path))
        df = reader.parquet(str(path))
        self._schemas[key] = (files, df.schema)
        return df

    def existing_hashes(self, table: str) -> DataFrame:
        """DISTINCT row_hash — the refresh-dedup state (reference P1/J2).

        Column pruning means only the row_hash column is read from parquet.
        """
        if not self.table_exists(table):
            return self.spark.createDataFrame([], "row_hash string")
        return self.scan(table, merge_schema=False).select("row_hash").distinct()

    def known_entry_ids(self, table: str, column: str) -> DataFrame:
        """DISTINCT entry ids, sorted (reference P2, database.py:218-244)."""
        if not self.table_exists(table):
            raise FileNotFoundError(f"no data for table {table!r}")
        return self.scan(table).select(column).distinct().orderBy(column)

    # ------------------------------------------------------------------ sinks
    def append(self, table: str, df: DataFrame) -> None:
        """Append-only parquet sink (reference S3). Never updates in place."""
        df.write.mode("append").option("compression", "zstd").parquet(
            str(self.table_path(table))
        )

    def write_batch(
        self,
        table: str,
        df: DataFrame,
        dedup_against_existing: bool = False,
        extra_exclude: set[str] | None = None,
        scraped_at=None,
    ) -> tuple[int, int]:
        """Stamp metadata, optionally drop content-duplicate rows, append.

        Refresh-mode dedup is the reference's hash anti-join
        (database.py:139-149) expressed distributively: left-anti join against
        the table's DISTINCT row_hash. Returns (written, skipped).

        Preserved reference quirk: the dedup set is ALL historical hashes
        (reference preload_hashes, database.py:86-106), so an entity
        *reverting* to any previous state is dropped as a duplicate and the
        revert never appears in SCD2 history. Parity is intentional; a
        current-state-only dedup would be ``current(scan(table))`` instead of
        ``existing_hashes``.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        stamped = stamp_metadata(df, extra_exclude=extra_exclude, scraped_at=scraped_at)
        if dedup_against_existing and self.table_exists(table):
            existing = self.existing_hashes(table)
            # intra-batch content dupes collapse too (reference adds written
            # hashes to the in-session set, database.py:144-148). AQE picks
            # broadcast vs shuffled anti-join from the runtime size of
            # `existing`; don't hint — the existing-hash side can be huge.
            obs_in, obs_out = Observation(), Observation()
            surviving = (
                stamped.observe(obs_in, F.count(F.lit(1)).alias("n"))
                .dropDuplicates(["row_hash"])
                .join(existing, "row_hash", "left_anti")
                .observe(obs_out, F.count(F.lit(1)).alias("n"))
            )
            # one action: counts ride along with the write via Observations
            self.append(table, surviving)
            incoming, written = obs_in.get["n"], obs_out.get["n"]
            if written == 0:
                self._remove_empty_new_files(table)
            return written, incoming - written
        obs = Observation()
        self.append(table, stamped.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"], 0

    def _remove_empty_new_files(self, table: str) -> None:
        """Drop zero-row parquet files left by an all-duplicate append (the
        single-action write can't know the count beforehand)."""
        import pyarrow.parquet as pq

        for f in self.table_path(table).glob("*.parquet"):
            try:
                if pq.ParquetFile(f).metadata.num_rows == 0:
                    f.unlink()
            except Exception:
                continue

    # ------------------------------------------------------ current snapshots
    def snapshot_path(self, table: str) -> Path:
        return self.scope_dir / "_snapshots" / f"{table}_current"

    def materialize_current(
        self, table: str, key: str = "uuid", order: str = "scraped_at"
    ) -> int:
        """Materialize the latest-state view as a parquet snapshot.

        The W1 window over full history is the one per-query cost that grows
        with history length (SCALE.md); refreshing this snapshot at
        compaction time amortizes it — ``current_snapshot`` then reads the
        snapshot directly with zero shuffle. Semantics identical to
        operators.scd2.current by construction. Atomic swap; returns rows.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.scd2 import current

        obs = Observation()
        snap = current(self.scan(table), key=key, order=order).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        tmp = self.snapshot_path(table).parent / f"_tmp_{table}_{_uuid.uuid4().hex[:8]}"
        snap.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
        n = obs.get["n"]
        dest = self.snapshot_path(table)
        if dest.exists():
            shutil.rmtree(dest)
        dest.parent.mkdir(parents=True, exist_ok=True)
        tmp.rename(dest)
        return n

    def current_snapshot(self, table: str) -> DataFrame:
        """Read the materialized latest-state snapshot (no window, no
        shuffle). Raises if never materialized — callers fall back to
        operators.scd2.current over ``scan``.

        Like ``scan``, reuses the schema kept for the snapshot directory
        while its files are unchanged; every ``materialize_current`` writes
        new files, so the first read after it infers again."""
        dest = self.snapshot_path(table)
        if not dest.exists():
            raise FileNotFoundError(
                f"no current-snapshot for {table!r}; call materialize_current"
            )
        return self._read(dest, merge_schema=False, tolerate_corrupt=False)

    # ------------------------------------------------------------- migration
    def rehash_table(self, table: str, extra_exclude: set[str] | None = None) -> int:
        """One-off migration: rewrite ``row_hash`` with the engine-canonical
        scheme, preserving every other column (including ``scraped_at``).

        Needed when adopting tables produced by the reference engine: its
        CPython hash (json.dumps with ', '/': ' separators, str(True) ->
        'True') is deliberately NOT byte-compatible with this engine's
        Spark ``to_json`` canonical hash (functions/hashing.py) — without
        migration the first refresh would see every existing hash as
        unmatched and append one spurious 'changed' version per row. Run
        once per table before the first refresh. Crash-safe in the
        ``compact`` sense: new files land in the table directory before the
        old ones are unlinked. Returns the number of rows rewritten.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from ctcityscraper_spark.functions.hashing import row_hash_col

        files = sorted(self.list_files(table))
        df = self.scan(table)
        data_cols = [c for c in df.columns if c != "row_hash"]
        obs = Observation()
        rehashed = (
            df.select(*data_cols)
            .withColumn("row_hash", row_hash_col(data_cols, extra_exclude))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        tmp = self.table_path(table).parent / f"_rehash_{table}_{_uuid.uuid4().hex[:8]}"
        rehashed.write.mode("overwrite").option("compression", "zstd").parquet(str(tmp))
        for part in sorted(tmp.glob("*.parquet")):
            part.rename(self.table_path(table) / f"rehashed-{_uuid.uuid4().hex}.parquet")
        for f in files:
            Path(f).unlink()
        shutil.rmtree(tmp)
        return obs.get["n"]

    # ------------------------------------------------------------- compaction
    def list_files(self, table: str) -> set[str]:
        return {str(p) for p in self.table_path(table).glob("*.parquet")}

    def compact(
        self,
        table: str,
        only_files: set[str] | None = None,
        target_file_bytes: int = 512 * 1024 * 1024,
    ) -> int:
        """Merge small files -> few files (reference T7, database.py:246-288).

        The reference merges one session's batch files into one file with
        union_by_name. Here: read the given files (or all) with mergeSchema,
        rewrite sized by bytes, atomically swap. Returns resulting file count.

        NOTE: DataFrames obtained from ``scan()`` *before* compaction pin the
        old file list and will fail on their next action — re-``scan()`` after
        compacting.

        Crash-safety ordering matches the reference (database.py:246-288:
        write the merged data into place BEFORE deleting batch files): the
        compacted parts are renamed into the table directory first, the
        source files unlinked after. A crash in between leaves transient
        duplicate rows — never an empty table with data stranded in the
        hidden tmp dir.
        """
        files = sorted(only_files if only_files is not None else self.list_files(table))
        if len(files) <= 1:
            return len(files)
        total_bytes = sum(Path(f).stat().st_size for f in files)
        n_out = max(1, round(total_bytes / target_file_bytes))
        df = self.spark.read.option("mergeSchema", "true").parquet(*files)
        tmp = self.table_path(table).parent / f"_compact_{table}_{_uuid.uuid4().hex[:8]}"
        (
            df.repartition(n_out)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(str(tmp))
        )
        moved = 0
        for part in sorted(tmp.glob("*.parquet")):
            part.rename(self.table_path(table) / f"compacted-{_uuid.uuid4().hex}.parquet")
            moved += 1
        for f in files:
            Path(f).unlink()
        shutil.rmtree(tmp)
        return moved


def _data_files(path: Path) -> tuple[tuple[str, int, int], ...]:
    """(path, size, mtime_ns) of every file a Parquet read of ``path`` sees:
    recursively, skipping names that start with ``_`` or ``.`` as Spark's
    file index does (``_SUCCESS``, ``.crc`` sidecars, hidden tmp dirs)."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if not name.startswith(("_", ".")):
                st = os.stat(os.path.join(root, name))
                out.append((os.path.join(root, name), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))
