"""Loader rewrite-cache tests: the re-split path (scan parallelism for
large single-file tables) and its leave-alone / staleness contracts."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from e2e_stock_data_pipeline_spark.sources import tables


@pytest.fixture()
def cache_root(tmp_path, monkeypatch):
    root = str(tmp_path / "cache")
    monkeypatch.setattr(tables, "_CACHE_ROOT", root)
    # per-path probe caches would leak decisions across tests
    monkeypatch.setattr(tables, "_RESPLIT_PROBE_CACHE", {})
    monkeypatch.setattr(tables, "_NS_PROBE_CACHE", {})
    return root


def _write_single_file(dirpath, name, n_rows):
    os.makedirs(dirpath, exist_ok=True)
    p = os.path.join(dirpath, f"{name}.parquet")
    pd.DataFrame({"k": range(n_rows), "v": [i * 0.5 for i in range(n_rows)]}).to_parquet(
        p, row_group_size=n_rows
    )
    return p


class TestResplitCache:
    def test_small_table_passes_through(self, tmp_path, cache_root):
        # below the width trigger: scheduling beats parallelism, leave alone
        n = tables._RESPLIT_WIDTH_MIN_ROWS - 1
        src = _write_single_file(str(tmp_path / "sf"), "orders", n)
        assert tables.spark_readable_path(str(tmp_path / "sf"), "orders") == src

    def test_width_trigger_splits_compute_heavy_small_tables(self, tmp_path, cache_root):
        # 10k rows / tiny bytes: the sf1-documents shape whose scan feeds
        # heavy per-row compute — must fan out to ~cluster width
        sf = str(tmp_path / "sf")
        _write_single_file(sf, "documents", 10_000)
        out = tables.spark_readable_path(sf, "documents")
        assert os.path.isdir(out)
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        expected = min(
            tables.DEFAULT_CPUS, 10_000 // tables._RESPLIT_WIDTH_CHUNK_ROWS
        )
        assert len(parts) == expected
        got = pq.read_table(out).to_pandas().sort_values("k").reset_index(drop=True)
        assert got["k"].tolist() == list(range(10_000))

    def test_large_table_resplits_with_values_intact(self, tmp_path, cache_root, spark):
        sf = str(tmp_path / "sf")
        n = tables._RESPLIT_MIN_ROWS + 17
        _write_single_file(sf, "lineitem", n)
        out = tables.spark_readable_path(sf, "lineitem")
        assert out != os.path.join(sf, "lineitem.parquet")
        assert os.path.isdir(out)
        parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        assert len(parts) > 1
        # values bit-identical, just re-grouped into files
        got = pq.read_table(out).to_pandas().sort_values("k").reset_index(drop=True)
        assert len(got) == n
        assert got["k"].tolist() == list(range(n))
        # and Spark's scan now parallelizes across the part files (file-
        # packing under openCostInBytes may merge the tiniest synthetic
        # parts, so >= not ==; real sf-dir caches measure at full width)
        df = spark.read.parquet(out)
        assert df.rdd.getNumPartitions() >= min(8, len(parts))
        assert df.count() == n

    def test_cache_is_reused_until_source_changes(self, tmp_path, cache_root):
        sf = str(tmp_path / "sf")
        src = _write_single_file(sf, "lineitem", tables._RESPLIT_MIN_ROWS)
        out1 = tables.spark_readable_path(sf, "lineitem")
        mtime1 = os.path.getmtime(out1)
        out2 = tables.spark_readable_path(sf, "lineitem")
        assert out2 == out1 and os.path.getmtime(out2) == mtime1
        # touch the source newer than the cache -> rewrite
        os.utime(src, (os.path.getmtime(src) + 10, os.path.getmtime(src) + 10))
        tables._RESPLIT_PROBE_CACHE.clear()
        out3 = tables.spark_readable_path(sf, "lineitem")
        assert os.path.getmtime(out3) >= mtime1

    def test_single_file_rebuild_clears_stale_directory(self, tmp_path, cache_root):
        # Policy wants a SINGLE cache file (ns-downcast rewrite, row count
        # below every split trigger) but a stale part-file DIRECTORY from an
        # older split policy sits at dst: the rebuild must clear it, not
        # fail in pq.write_table(tbl, <existing directory>).
        import pyarrow as pa

        sf = str(tmp_path / "sf")
        os.makedirs(sf, exist_ok=True)
        df = pd.DataFrame(
            {"k": range(10),
             "ts": pd.date_range("2024-01-01", periods=10, freq="s")}
        )
        tbl = pa.Table.from_pandas(df)  # ns timestamps -> forces a rewrite
        pq.write_table(tbl, os.path.join(sf, "events.parquet"))
        dst = os.path.join(tables._cache_dir(sf), "events.parquet")
        os.makedirs(dst, exist_ok=True)
        pq.write_table(tbl.slice(0, 5), os.path.join(dst, "part-00000.parquet"))
        out = tables.spark_readable_path(sf, "events")
        assert out == dst
        assert os.path.isfile(out)
        got = pq.read_table(out)
        assert got.num_rows == 10
        assert got.schema.field("ts").type == pa.timestamp("us")

    def test_byte_threshold_catches_wide_tables(self, tmp_path, cache_root):
        # few rows but large payload (the 50k-documents shape)
        sf = str(tmp_path / "sf")
        os.makedirs(sf, exist_ok=True)
        big = "x" * 4000
        pd.DataFrame(
            {"doc_id": range(4000), "text": [big + str(i) for i in range(4000)]}
        ).to_parquet(os.path.join(sf, "documents.parquet"), row_group_size=4000,
                     compression=None)
        assert os.path.getsize(os.path.join(sf, "documents.parquet")) >= tables._RESPLIT_MIN_BYTES
        out = tables.spark_readable_path(sf, "documents")
        assert os.path.isdir(out)

    def test_dirs_sharing_a_basename_get_their_own_cache(self, tmp_path, cache_root):
        # .../a/sf and .../b/sf: each rewrite holds its own rows, and both
        # stay under <cache root>/<basename>/ so they can be removed by name
        n = tables._RESPLIT_WIDTH_MIN_ROWS
        outs = []
        for side, offset in (("a", 0), ("b", 10_000)):
            sf = str(tmp_path / side / "sf")
            os.makedirs(sf)
            pd.DataFrame({"k": range(offset, offset + n)}).to_parquet(
                os.path.join(sf, "lineitem.parquet"), row_group_size=n
            )
            outs.append(tables.spark_readable_path(sf, "lineitem"))
        assert outs[0] != outs[1]
        for out, offset in zip(outs, (0, 10_000)):
            assert os.path.dirname(os.path.dirname(out)) == os.path.join(cache_root, "sf")
            got = sorted(pq.read_table(out).column("k").to_pylist())
            assert got == list(range(offset, offset + n))
