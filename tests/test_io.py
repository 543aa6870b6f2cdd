"""Unit tests for sources/sinks/streaming plumbing not exercised by the
oracle-parity suite (grid windowing combos, Excel gate, upsert merge
rules, quarantine routing)."""

from __future__ import annotations

import glob
import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dig_etl_engine_spark.sinks import kg_table
from dig_etl_engine_spark.sources.tabular import TabularSpec, _grid_to_df

GRID = [
    ["junk", "", ""],
    ["a", "b", "c"],
    ["1", "2", "3"],
    ["4", "", "6"],
    ["", "", ""],
    ["7", "8", "9"],
]


class TestGridWindowing:
    def test_defaults_take_all(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3)
        df = _grid_to_df(spark, GRID, spec)
        assert df.columns == ["a", "b", "c"]
        # blank row skipped (not terminal) without blank_row_ends_content
        assert [tuple(r) for r in df.collect()] == [
            ("1", "2", "3"), ("4", "", "6"), ("7", "8", "9")]

    def test_blank_row_terminates(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           blank_row_ends_content=True)
        assert _grid_to_df(spark, GRID, spec).count() == 2

    def test_content_end_row_inclusive(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=3)
        assert [tuple(r) for r in _grid_to_df(spark, GRID, spec).collect()] \
            == [("1", "2", "3")]

    def test_column_window_synthetic_headers(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=4, heading_columns=(2, 3))
        df = _grid_to_df(spark, GRID, spec)
        assert df.columns == ["2", "3"]
        assert [tuple(r) for r in df.collect()] == [("2", "3"), ("", "6")]

    def test_ragged_short_rows_pad_empty(self, spark, tmp_path):
        """A content row with fewer cells than the heading width pads with
        '' (reference `dig_tabular_import.py:185-197`) — and must not throw
        under ANSI mode (try-semantics field access, not element_at)."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "ragged.csv"
        p.write_text("a,b,c\n1,2,3\n4,5\n6\n")
        df = read_tabular(spark, str(p), TabularSpec())
        assert [tuple(r) for r in df.collect()] == [
            ("1", "2", "3"), ("4", "5", ""), ("6", "", "")]

    def test_quoted_fields_keep_delimiter(self, spark, tmp_path):
        """CSV quoting: a quoted field containing the delimiter is ONE
        cell (real CSV parse, not naive split)."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "quoted.csv"
        p.write_text('name,title\n"Smith, John",engineer\nplain,boss\n')
        df = read_tabular(spark, str(p), TabularSpec())
        assert [tuple(r) for r in df.collect()] == [
            ("Smith, John", "engineer"), ("plain", "boss")]

    def test_regex_meta_separator_is_literal(self, spark, tmp_path):
        """A separator like '|' is a literal, not a regex alternation."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "pipe.csv"
        p.write_text("x|y\n1|2\n")
        df = read_tabular(spark, str(p), TabularSpec(sep="|"))
        assert df.columns == ["x", "y"]
        assert [tuple(r) for r in df.collect()] == [("1", "2")]

    def test_xls_corrupt_raises_clearly(self, spark, tmp_path):
        """Legacy .xls now parses via the stdlib BIFF8 reader
        (test_xls_reader.py); a truncated/corrupt container must raise a
        clear format error, not crash obscurely."""
        from dig_etl_engine_spark.sources.tabular import read_excel
        p = tmp_path / "x.xls"
        p.write_bytes(b"\xd0\xcf\x11\xe0 not a real compound file")
        with pytest.raises(ValueError):
            read_excel(spark, str(p))


class TestXlsx:
    def test_roundtrip_multi_sheet(self, tmp_path):
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "book.xlsx")
        s1 = [["a", "b"], ["1", "x,y"], ["2", "<tag> & \"q\""]]
        s2 = [["only"], ["sheet2"]]
        write_xlsx(p, [s1, s2], sheet_names=["First", "Second"])
        assert read_xlsx_grid(p, 1) == s1
        assert read_xlsx_grid(p, 2) == s2
        with pytest.raises(ValueError):
            read_xlsx_grid(p, 3)

    def test_sparse_cells_pad_empty(self, tmp_path):
        """Missing cells (sparse OOXML rows reference only populated
        cells) come back as '' in a dense grid."""
        import zipfile
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "sparse.xlsx")
        write_xlsx(p, [["a", "b", "c"], ["1", "2", "3"]])
        # rewrite the sheet with row 2 holding only column C
        with zipfile.ZipFile(p) as zf:
            parts = {n: zf.read(n) for n in zf.namelist()}
        sheet = parts["xl/worksheets/sheet1.xml"].decode()
        sheet = sheet.replace(
            '<row r="2"><c r="A2" t="inlineStr"><is><t>1</t></is></c>'
            '<c r="B2" t="inlineStr"><is><t>2</t></is></c>'
            '<c r="C2" t="inlineStr"><is><t>3</t></is></c></row>',
            '<row r="2"><c r="C2" t="inlineStr"><is><t>3</t></is></c></row>')
        parts["xl/worksheets/sheet1.xml"] = sheet.encode()
        with zipfile.ZipFile(p, "w") as zf:
            for n, data in parts.items():
                zf.writestr(n, data)
        assert read_xlsx_grid(p, 1) == [["a", "b", "c"], ["", "", "3"]]

    def test_shared_strings_and_numbers(self, tmp_path):
        """Grids written by real producers use sharedStrings + numeric
        cells; both read back as strings (reference: all-string cells,
        auto-detect off)."""
        import zipfile
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "ss.xlsx")
        write_xlsx(p, [["placeholder"]])
        with zipfile.ZipFile(p) as zf:
            parts = {n: zf.read(n) for n in zf.namelist()}
        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        parts["xl/sharedStrings.xml"] = (
            f'<?xml version="1.0"?><sst xmlns="{ns}">'
            '<si><t>hello</t></si><si><r><t>wor</t></r><r><t>ld</t></r>'
            '</si></sst>').encode()
        parts["xl/worksheets/sheet1.xml"] = (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="s"><v>1</v></c>'
            '<c r="C1"><v>3.25</v></c>'
            '<c r="D1" t="b"><v>1</v></c></row>'
            '</sheetData></worksheet>').encode()
        with zipfile.ZipFile(p, "w") as zf:
            for n, data in parts.items():
                zf.writestr(n, data)
        assert read_xlsx_grid(p, 1) == [["hello", "world", "3.25", "TRUE"]]

    def test_read_excel_windowed(self, spark, tmp_path):
        from dig_etl_engine_spark.sources.tabular import (
            TabularSpec, read_excel)
        from dig_etl_engine_spark.sources.xlsx import write_xlsx
        p = str(tmp_path / "win.xlsx")
        write_xlsx(p, [["junk"], ["a", "b"], ["1", "2"], ["3", "4"],
                       ["trailer", "x"]])
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=4)
        df = read_excel(spark, p, spec)
        assert df.columns == ["a", "b"]
        assert [tuple(r) for r in df.collect()] == [("1", "2"), ("3", "4")]

    def test_timeseries_excel_entry(self, tmp_path):
        """S9's Excel entry parses .xlsx via the stdlib reader —
        sheet_indices select the annotated sheet (1-based spec) within
        the workbook, decoy sheet ignored."""
        from dig_etl_engine_spark.timeseries.spreadsheet import (
            extract_spreadsheet)
        from dig_etl_engine_spark.sources.xlsx import write_xlsx
        p = str(tmp_path / "ts.xlsx")
        decoy = [["nothing", "here"]]
        data = [["Prices", "", ""],
                ["", "2020", "2021"],
                ["alpha", "1", "2"],
                ["beta", "3", "4"]]
        write_xlsx(p, [decoy, data], sheet_names=["Decoy", "Data"])
        annotation = {
            "Properties": {"sheet_indices": "[2]"},
            "GlobalMetadata": [
                {"source": "const", "name": "dataset", "val": "t"}],
            "TimeSeriesRegions": [{
                "orientation": "row",
                "rows": "[3:4]",
                "locs": "[B:C]",
                "metadata": [
                    {"source": "col", "loc": "[A]", "name": "name"}],
                "times": {"locs": "[2]"},
            }],
        }
        parsed = extract_spreadsheet(p, [annotation])
        got = {s["metadata"]["name"]: s["ts"] for s in parsed}
        assert got == {"alpha": [("2020", "1"), ("2021", "2")],
                       "beta": [("2020", "3"), ("2021", "4")]}


class TestUpsert:
    SCHEMA = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
        T.StructField("v", T.StringType()),
    ])

    def test_create_if_not_exists_idempotent(self, spark, tmp_path):
        p = str(tmp_path / "t")
        assert kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert not kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert spark.read.parquet(p).count() == 0

    def test_seed_read_schema_identical_to_spark_write(
            self, spark, tmp_path):
        """r12: the bootstrap seed is written on the driver (pyarrow +
        the Spark row-metadata footer key), not by a Spark job. The
        contract that makes that safe: reading the seeded table must
        restore EXACTLY the schema an empty-DataFrame Spark write would
        have pinned — across nullability, nested and temporal/decimal
        types — because the first upsert aligns batches to it."""
        cases = {
            "flat": self.SCHEMA,
            "nonnull": T.StructType([
                T.StructField("a", T.LongType(), False),
                T.StructField("b", T.StringType(), True)]),
            "nested": T.StructType([
                T.StructField("arr", T.ArrayType(T.StringType())),
                T.StructField("st", T.StructType(
                    [T.StructField("x", T.IntegerType())])),
                T.StructField("m", T.MapType(T.StringType(),
                                             T.DoubleType()))]),
            "temporal": T.StructType([
                T.StructField("t", T.TimestampType()),
                T.StructField("d", T.DateType()),
                T.StructField("dec", T.DecimalType(18, 4)),
                T.StructField("bin", T.BinaryType()),
                T.StructField("f", T.FloatType()),
                T.StructField("i", T.IntegerType()),
                T.StructField("bo", T.BooleanType())]),
        }
        for name, sch in cases.items():
            seeded = str(tmp_path / f"{name}_seed")
            sparkw = str(tmp_path / f"{name}_spark")
            assert kg_table.create_table_if_not_exists(spark, seeded, sch)
            # the DRIVER path must have run, not the Spark fallback —
            # otherwise this test compares a Spark write against a Spark
            # write and the optimization it pins could be silently dead
            # (e.g. a pyarrow upgrade breaking to_arrow_schema)
            assert os.path.exists(os.path.join(
                seeded, "part-00000-seed.snappy.parquet")), name
            spark.createDataFrame([], sch).write.parquet(sparkw)
            got = spark.read.parquet(seeded)
            assert got.schema == spark.read.parquet(sparkw).schema, name
            assert got.count() == 0, name

    def test_seed_rejects_null_type_up_front(self, spark, tmp_path):
        """The seed must not be WIDER than the Spark writer it replaces:
        pyarrow happily writes a void column Spark can never write to,
        so NullType anywhere in the schema must raise before anything
        touches disk — recursively, including nested positions."""
        nested_nulls = [
            T.StructType([T.StructField("x", T.NullType())]),
            T.StructType([T.StructField(
                "a", T.ArrayType(T.NullType()))]),
            T.StructType([T.StructField(
                "m", T.MapType(T.StringType(), T.NullType()))]),
            T.StructType([T.StructField("s", T.StructType(
                [T.StructField("inner", T.NullType())]))]),
        ]
        for sch in nested_nulls:
            assert kg_table._contains_null_type(sch), sch
            with pytest.raises(ValueError, match="void column"):
                kg_table._write_empty_seed(str(tmp_path / "void"), sch)
            assert not os.path.exists(str(tmp_path / "void"))
        assert not kg_table._contains_null_type(self.SCHEMA)

    def test_seed_refuses_to_delete_marker_dirs(self, tmp_path):
        """_write_empty_seed must never rmtree a dir carrying any
        committed-table marker — the refusal that keeps a creation race
        from destroying the winner's table."""
        for marker, is_dir in [("x.parquet", False), ("_SUCCESS", False),
                               ("_kb=00000", True),
                               (kg_table._MANIFEST, False)]:
            p = str(tmp_path / f"t_{marker.replace('=', '_')}")
            os.makedirs(p)
            if is_dir:
                os.makedirs(os.path.join(p, marker))
            else:
                with open(os.path.join(p, marker), "w") as fh:
                    fh.write("keep me")
            with pytest.raises(FileExistsError):
                kg_table._write_empty_seed(p, self.SCHEMA)
            assert os.path.exists(os.path.join(p, marker)), marker

    def test_seed_lost_race_returns_false_keeps_winner(
            self, spark, tmp_path, monkeypatch):
        """If the seed fails AND a table now exists (an out-of-band
        creator won), create_table_if_not_exists must report 'not
        created' and leave the winner's table alone — never fall into
        the destructive Spark overwrite."""
        p = str(tmp_path / "t")

        def winner_then_fail(path, schema):
            os.makedirs(path)
            with open(os.path.join(path, "part-w.parquet"), "w") as fh:
                fh.write("winner's data")
            raise RuntimeError("simulated lost race")

        monkeypatch.setattr(kg_table, "_write_empty_seed",
                            winner_then_fail)
        assert not kg_table.create_table_if_not_exists(
            spark, p, self.SCHEMA)
        with open(os.path.join(p, "part-w.parquet")) as fh:
            assert fh.read() == "winner's data"

    def test_seed_sweeps_stale_staging(self, spark, tmp_path):
        """A crashed predecessor's .__seed__* staging dir is reclaimed
        at entry (under the table lock) instead of leaking forever."""
        p = str(tmp_path / "t")
        stale = p + ".__seed__deadbeef"
        os.makedirs(stale)
        with open(os.path.join(stale, "junk.parquet"), "w") as fh:
            fh.write("junk")
        assert kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert not os.path.exists(stale)
        assert spark.read.parquet(p).count() == 0

    def test_last_write_wins_across_batches(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b1 = spark.createDataFrame(
            [("a", 1, "old"), ("b", 2, "keep")], self.SCHEMA)
        b2 = spark.createDataFrame(
            [("a", 10, "new"), ("c", 3, "add")], self.SCHEMA)
        kg_table.upsert(spark, p, b1)
        kg_table.upsert(spark, p, b2)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in spark.read.parquet(p).collect()}
        assert got == {"a": (10, "new"), "b": (2, "keep"), "c": (3, "add")}

    def test_stale_replay_does_not_regress(self, spark, tmp_path):
        # merge outcome is a pure function of (key, order): replaying an
        # old batch after a newer write must not clobber it
        p = str(tmp_path / "t")
        new = spark.createDataFrame([("a", 10, "new")], self.SCHEMA)
        old = spark.createDataFrame([("a", 1, "old")], self.SCHEMA)
        kg_table.upsert(spark, p, new)
        kg_table.upsert(spark, p, old)
        assert spark.read.parquet(p).collect()[0].v == "new"

    def test_within_batch_dedupe(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [("a", 1, "x"), ("a", 5, "y"), ("a", 3, "z")], self.SCHEMA)
        kg_table.upsert(spark, p, b)
        rows = spark.read.parquet(p).collect()
        assert len(rows) == 1 and rows[0].v == "y"

    def test_partitioned_upsert_mixed_key_widths_merge(
            self, spark, tmp_path):
        """A batch whose key column arrives NARROWER than the original
        writer's (INT vs BIGINT) must bucket the same logical keys into
        the same _kb= dirs — xxhash64 hashes the two widths differently,
        so without the canonical widening in _bucket_expr the merge
        reads the wrong partitions and keeps BOTH rows per key (the r7
        bloom review finding, same class)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(40)],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=8)
        batch = spark.createDataFrame(
            [(0, 10, "new"), (99, 2, "add")],
            "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[0] == (10, "new")     # updated, not duplicated
        assert got[99] == (2, "add")
        assert len(got) == 41

    def test_partitioned_upsert_stray_flat_files_mixed_width(
            self, spark, tmp_path):
        """Flat bootstrap rows (plain upsert) with INT keys folded into
        a LONG-keyed partitioned batch: the stray frame must get a
        bucket expression built from ITS OWN dtype (r8 review — the
        batch-derived expression would hash the stray column unwidened
        into the wrong partition), so the same logical key collapses to
        one row."""
        p = str(tmp_path / "t")
        flat = spark.createDataFrame(
            [(0, 1, "flat"), (7, 1, "flat")],
            "doc_id int, kafka_offset long, v string")
        kg_table.upsert(spark, p, flat)      # flat root layout
        batch = spark.createDataFrame(
            [(0, 10, "new"), (5, 2, "add")],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[0] == (10, "new")     # migrated + updated, one row
        assert got[7] == (1, "flat")     # migrated untouched
        assert got[5] == (2, "add")
        assert len(got) == 3
        # and a later NARROW batch still merges against the same layout
        b2 = spark.createDataFrame(
            [(7, 9, "upd")], "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, b2, buckets=8)
        got2 = {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()}
        assert got2[7] == "upd" and len(got2) == 3

    def test_partitioned_upsert_rejects_cross_family_keys(
            self, spark, tmp_path):
        """String batch keys against a bigint-keyed table: the union
        would silently coerce to string while the bucket hashes diverge
        — must refuse loudly (same class the bloom join rejects)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(10)],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        bad = spark.createDataFrame(
            [("3", 9, "boom")], "doc_id string, kafka_offset long, v string")
        with pytest.raises(ValueError, match="hash-agree"):
            kg_table.upsert_partitioned(spark, p, bad, buckets=4)

    def test_bucket_hash_version_marker_and_legacy_preservation(
            self, spark, tmp_path):
        """New tables stamp the 'widened' hash-version token in
        _kg_buckets; a legacy (count-only) meta is PRESERVED across
        upserts — the table keeps its birth hashing — and a
        narrower-width batch against it refuses with the rebucket
        upgrade path named; rebucket_partitioned rewrites every row and
        flips the marker."""
        import os
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(20)],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        meta = os.path.join(p, "_kg_buckets")
        assert "widened" in open(meta).read().split()
        # simulate a legacy table: count-only meta (its long-keyed
        # layout is valid under both hash versions — widening is the
        # identity for BIGINT — so only the CONTRACT changes)
        with open(meta, "w") as fh:
            fh.write("4")
        b = spark.createDataFrame(
            [(3, 9, "upd")], "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, b, buckets=4)
        assert open(meta).read().split() == ["4"]   # legacy preserved
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[3] == "upd" and len(got) == 20
        narrow = spark.createDataFrame(
            [(3, 11, "x")], "doc_id int, kafka_offset long, v string")
        with pytest.raises(ValueError, match="rebucket_partitioned"):
            kg_table.upsert_partitioned(spark, p, narrow, buckets=4)
        kg_table.rebucket_partitioned(spark, p, key_col="doc_id",
                                      new_buckets=4)
        assert "widened" in open(meta).read().split()
        kg_table.upsert_partitioned(spark, p, narrow, buckets=4)  # now ok
        got2 = {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()}
        assert got2[3] == "x" and len(got2) == 20

    def test_partitioned_upsert_touches_only_batch_partitions(
            self, spark, tmp_path):
        """upsert_partitioned: merge semantics identical to upsert, but
        only the hash-bucket partitions containing batch keys are
        rewritten — untouched partition dirs keep their exact files."""
        import glob
        p = str(tmp_path / "t")
        keys = [f"k{i}" for i in range(40)]
        base = spark.createDataFrame(
            [(k, 1, "base") for k in keys], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, base, buckets=8)

        # snapshot the manifest's live dir (and its exact files) per
        # bucket before the second batch
        live_before = dict(kg_table._live_bucket_dirs(p))
        files_before = {n: sorted(glob.glob(f"{p}/{d}/*.parquet"))
                        for n, d in live_before.items()}
        batch = spark.createDataFrame(
            [("k0", 10, "new"), ("zz", 2, "add"), ("k1", 0, "stale")],
            self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)

        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got["k0"] == (10, "new")      # updated
        assert got["k1"] == (1, "base")      # stale replay ignored
        assert got["zz"] == (2, "add")       # inserted
        assert len(got) == 41
        # every untouched bucket keeps its exact epoch dir and files;
        # every touched bucket moved to a NEW epoch dir
        from pyspark.sql import functions as F
        touched = {r[0] for r in batch.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")).collect()}
        live_after = kg_table._live_bucket_dirs(p)
        untouched = [n for n in live_before if n not in touched]
        assert untouched, "test needs at least one untouched bucket"
        for n in untouched:
            assert live_after[n] == live_before[n]
            assert sorted(glob.glob(f"{p}/{live_after[n]}/*.parquet")) \
                == files_before[n]
        for n in touched & set(live_before):
            assert live_after[n] != live_before[n]

    @staticmethod
    def _epoch_files(p, before=frozenset()):
        """Parquet file count of every epoch dir not in ``before``."""
        return {d: len(glob.glob(os.path.join(p, d, "*.parquet")))
                for d in os.listdir(p)
                if d.startswith(".kbe_") and d not in before}

    def test_partitioned_upsert_evaluates_batch_once(self, spark, tmp_path):
        """The touched-bucket collect and the write both read the batch;
        the caller's plan behind it (here a Python UDF filter that counts
        its calls) must run once per row, not once per action."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
            [(f"k{i}", 1, "base") for i in range(40)], self.SCHEMA),
            buckets=8)
        calls = spark.sparkContext.accumulator(0)

        def keep(v):
            calls.add(1)
            return True

        rows = [(f"k{i}", 5, "new") for i in range(0, 60, 3)]
        batch = spark.createDataFrame(rows, self.SCHEMA) \
            .filter(F.udf(keep, "boolean")("v"))
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)
        assert calls.value == len(rows)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got == {**{f"k{i}": "base" for i in range(40)},
                       **{k: v for k, _, v in rows}}

    def test_partitioned_upsert_one_file_per_bucket(self, spark, tmp_path):
        """Every bucket a commit writes holds exactly one parquet file,
        whatever the shuffle width (coalescing off, so a merge shuffled
        on the key alone would spread a bucket over many tasks), on the
        birth write and on a merge; and a steady-state commit fires a
        fixed number of Spark jobs."""
        p = str(tmp_path / "t")
        expected = {f"k{i}": (1, "base") for i in range(200)}
        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        restore = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")
        try:
            kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
                [(k, o, v) for k, (o, v) in expected.items()],
                self.SCHEMA), buckets=8)
            born = self._epoch_files(p)
            assert len(born) == 8 and set(born.values()) == {1}
            rows = [(f"k{i}", 2, "new") for i in range(0, 260, 5)]
            kg_table.upsert_partitioned(
                spark, p, spark.createDataFrame(rows, self.SCHEMA),
                buckets=8)
        finally:
            spark.conf.set(coalesce, restore)
        merged = self._epoch_files(p, set(born))
        assert merged and set(merged.values()) == {1}
        expected.update((k, (o, v)) for k, o, v in rows)

        # one steady-state commit (default conf), counted under a job
        # group: the probe read, three for the touched collect (the
        # batch shuffle, the distinct's two stages), two for the write
        # (the merge shuffle, the write)
        sc = spark.sparkContext
        rows = [(f"k{i}", 3, "again") for i in range(1, 100, 7)]
        before = set(self._epoch_files(p))
        sc.setJobGroup("upsert-once", "one steady-state commit")
        try:
            kg_table.upsert_partitioned(
                spark, p, spark.createDataFrame(rows, self.SCHEMA),
                buckets=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        assert len(sc.statusTracker().getJobIdsForGroup("upsert-once")) == 6
        assert set(self._epoch_files(p, before).values()) == {1}
        expected.update((k, (o, v)) for k, o, v in rows)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got == expected


class TestStreamingIngest:
    def test_quarantine_and_upsert(self, spark, tmp_path):
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_ingest)

        schema = TestUpsert.SCHEMA
        src_dir = str(tmp_path / "in")
        df = spark.createDataFrame(
            [("a", 1, "v1"), ("a", 2, "v2"), ("", 3, "bad"),
             (None, 4, "bad2"), ("b", 5, "v5")], schema)
        df.coalesce(1).write.json(src_dir)

        target = str(tmp_path / "kg")
        quarantine = str(tmp_path / "bad")
        q = run_ingest(file_stream_source(spark, src_dir, schema),
                       target_path=target, quarantine_path=quarantine,
                       checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination()

        got = {r.doc_id: r.v for r in
               kg_table.read_partitioned(spark, target).collect()}
        assert got == {"a": "v2", "b": "v5"}
        # streaming default is the partitioned merge: manifest-routed
        # bucketed layout only, no flat files at the root
        assert kg_table._MANIFEST in os.listdir(target)
        assert kg_table._load_manifest(target)["live"]
        assert not any(f.endswith(".parquet") for f in os.listdir(target))
        bad = spark.read.parquet(quarantine)
        assert bad.count() == 2
        assert set(bad.select("_quarantine_reason").distinct()
                   .toPandas()["_quarantine_reason"]) == {"missing doc_id"}

    def test_quarantine_retry_is_idempotent(self, spark, tmp_path):
        """Replaying a micro-batch must not duplicate quarantine rows:
        the write lands in its own _batch_id partition via dynamic
        overwrite."""
        from dig_etl_engine_spark.streaming.ingest import write_quarantine
        schema = TestUpsert.SCHEMA
        bad = spark.createDataFrame([("", 3, "bad"), (None, 4, "bad2")],
                                    schema)
        qdir = str(tmp_path / "bad")
        write_quarantine(bad, 7, qdir)
        write_quarantine(bad, 7, qdir)          # retry of the same batch
        assert spark.read.parquet(qdir).count() == 2
        write_quarantine(bad.limit(1), 8, qdir)  # a different batch appends
        assert spark.read.parquet(qdir).count() == 3

    def test_flat_table_migrates_to_bucketed(self, spark, tmp_path):
        """upsert_partitioned over a flat (bootstrap or legacy-upsert)
        table folds the flat rows in and converges the layout to pure
        _kb= dirs."""
        p = str(tmp_path / "t")
        schema = TestUpsert.SCHEMA
        kg_table.upsert(spark, p, spark.createDataFrame(
            [("a", 1, "old"), ("b", 2, "keep")], schema))
        kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
            [("a", 10, "new"), ("c", 3, "add")], schema), buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got == {"a": (10, "new"), "b": (2, "keep"), "c": (3, "add")}
        assert not any(f.endswith(".parquet") for f in os.listdir(p))

    def test_stateful_first_seen_dedup_across_runs(self, spark, tmp_path):
        """applyInPandasWithState first-seen dedup: within a run the
        min-order row per fingerprint wins; a second run against the same
        checkpoint resumes the state store, so fingerprints emitted in run
        1 stay suppressed and only genuinely new ones come out."""
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import file_stream_source
        from dig_etl_engine_spark.streaming.stateful import (
            run_first_seen_dedup)

        schema = T.StructType([
            T.StructField("fp", T.StringType()),
            T.StructField("off", T.LongType()),
            T.StructField("v", T.StringType()),
        ])
        out_schema = "fp string, off long, v string"
        src_dir = str(tmp_path / "in")
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        spark.createDataFrame(
            [("a", 3, "a3"), ("a", 1, "a1"), ("b", 2, "b2")],
            schema).coalesce(1).write.json(src_dir)
        q = run_first_seen_dedup(
            file_stream_source(spark, src_dir, schema), target_path=target,
            checkpoint_dir=ckpt, fingerprint_col="fp", order_col="off",
            output_schema=out_schema)
        q.awaitTermination()
        got = {r.fp: (r.off, r.v) for r in spark.read.parquet(target).collect()}
        assert got == {"a": (1, "a1"), "b": (2, "b2")}

        # second run: duplicates of a/b plus a new fingerprint c
        spark.createDataFrame(
            [("a", 9, "a9"), ("b", 8, "b8"), ("c", 7, "c7")],
            schema).coalesce(1).write.mode("append").json(src_dir)
        q = run_first_seen_dedup(
            file_stream_source(spark, src_dir, schema), target_path=target,
            checkpoint_dir=ckpt, fingerprint_col="fp", order_col="off",
            output_schema=out_schema)
        q.awaitTermination()
        got = {r.fp: (r.off, r.v) for r in spark.read.parquet(target).collect()}
        assert got == {"a": (1, "a1"), "b": (2, "b2"), "c": (7, "c7")}

    def test_windowed_agg_watermark_finalization(self, spark, tmp_path):
        """Event-time windows finalize exactly when the watermark (max
        event time − delay) passes their end — availableNow drains with a
        flush batch, so every window closed by the final watermark is
        emitted, and still-open windows are not."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_windowed_counts)

        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for ts, et, v in rows:
                    fh.write(json.dumps(
                        {"ts": ts, "event_type": et, "value": v}) + "\n")

        def run():
            q = run_windowed_counts(
                file_stream_source(spark, str(src), schema),
                target_path=target, checkpoint_dir=ckpt)
            q.awaitTermination()

        day1 = [(f"2024-01-01T0{h}:00:00", "click", 1.5) for h in range(4)]
        day2 = [("2024-01-02T12:00:00", "click", 2.0),
                ("2024-01-02T13:00:00", "view", 3.0)]
        drop("a.json", day1 + day2)
        run()     # watermark 01-02T12:00 closes the day-1 window

        drop("b.json", [("2024-01-03T02:00:00", "click", 1.0)])
        run()     # watermark 01-03T01:00 closes both day-2 windows

        drop("c.json", [("2024-01-04T23:00:00", "click", 1.0)])
        run()     # watermark 01-04T22:00 closes day-3; day-4 stays open

        got = {(str(r.window_start)[:10], r.event_type):
               (r.n_events, r.sum_value)
               for r in spark.read.parquet(target).collect()}
        assert got == {("2024-01-01", "click"): (4, 6.0),
                       ("2024-01-02", "click"): (1, 2.0),
                       ("2024-01-02", "view"): (1, 3.0),
                       ("2024-01-03", "click"): (1, 1.0)}

    def test_dedup_ingest_suppresses_near_dups_across_batches(
            self, spark, tmp_path):
        """run_dedup_ingest end-to-end from a cold start: batch-internal
        near-dups collapse to the min-id doc, later batches' docs similar
        to ANY earlier content are suppressed via the persisted index,
        invalid docs quarantine, and unique docs flow through."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.operators.dedup import (
            materialize_minhash_index)
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_dedup_ingest)

        base = ("the quick brown fox jumps over the lazy dog while rain "
                "in spain falls mainly on the plain every day")
        other = ("entirely different text about submarine volcanoes "
                 "hydrothermal vents bathymetry and oceanic plates")
        schema = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("kafka_offset", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, quarantine = str(tmp_path / "kg"), str(tmp_path / "q")
        ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "mh")

        # cold start: index materialized over an EMPTY corpus
        materialize_minhash_index(
            spark.createDataFrame([], "doc_id string, text string"),
            "text", idx)

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for d, o, t in rows:
                    fh.write(json.dumps(
                        {"doc_id": d, "kafka_offset": o, "text": t}) + "\n")

        def run():
            q = run_dedup_ingest(
                file_stream_source(spark, str(src), schema),
                target_path=target, quarantine_path=quarantine,
                checkpoint_dir=ckpt, index_path=idx,
                threshold=0.5, buckets=4)
            q.awaitTermination()

        drop("a.json", [("a", 1, base),
                        ("b", 2, base + " extra tail"),   # near-dup of a
                        (None, 3, "orphan doc")])
        run()
        got = {r.doc_id for r in read_partitioned(spark, target).collect()}
        assert got == {"a"}                       # b collapsed into a
        assert spark.read.parquet(quarantine).count() == 1

        # d repeats b's exact text: b was DROPPED in batch 1, but the
        # index records dropped docs too, so d still collides (with both
        # a's and b's signatures) and is suppressed
        drop("b.json", [("d", 4, base + " extra tail"),
                        ("e", 5, other)])                    # unique
        run()
        got = {r.doc_id for r in read_partitioned(spark, target).collect()}
        assert got == {"a", "e"}                  # d suppressed via index

    def test_session_windows_merge_and_finalize(self, spark, tmp_path):
        """Streaming sessionization via native session_window: dynamic-gap
        sessions MERGE when a late-but-inside-watermark event bridges two
        open sessions, and finalize (append mode) only once the watermark
        passes session end. The merge is the semantics worth pinning — a
        batch-style gap rule applied per micro-batch would emit two
        sessions for the bridged key."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_session_windows)

        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for ts, u in rows:
                    fh.write(json.dumps(
                        {"ts": ts, "user_id": u, "value": 1.0}) + "\n")

        def run():
            q = run_session_windows(
                file_stream_source(spark, str(src), schema),
                target_path=target, checkpoint_dir=ckpt)
            q.awaitTermination()

        # u2's two events sit 40 min apart — two open sessions until the
        # 10:20 bridge arrives in the NEXT batch (above the 10:00
        # watermark, so accepted) and merges them
        drop("a.json", [("2024-01-01T10:00:00", "u1"),
                        ("2024-01-01T10:10:00", "u1"),
                        ("2024-01-01T10:00:00", "u2"),
                        ("2024-01-01T10:40:00", "u2"),
                        ("2024-01-01T11:00:00", "clk")])
        run()     # watermark 10:00 — nothing finalized yet
        assert spark.read.schema(
            "session_start timestamp, session_end timestamp, "
            "user_id string, n_events long, sum_value double"
        ).parquet(target).count() == 0

        drop("b.json", [("2024-01-01T10:20:00", "u2"),   # bridges u2
                        ("2024-01-01T12:30:00", "u1"),   # new open session
                        ("2024-01-01T13:00:00", "clk")])
        run()     # watermark 12:00 finalizes everything ending before it

        got = {(r.user_id, str(r.session_start)[11:16],
                str(r.session_end)[11:16]): r.n_events
               for r in spark.read.parquet(target).collect()}
        assert got == {
            ("u1", "10:00", "10:40"): 2,
            ("u2", "10:00", "11:10"): 3,     # ONE merged session of 3
            ("clk", "11:00", "11:30"): 1,
        }

    def test_kafka_builders_construct(self, spark):
        # no broker in the container: assert the gated builders produce
        # configured writer objects without starting anything
        from dig_etl_engine_spark.sinks.kafka import to_kafka_batch
        df = spark.createDataFrame([("a", "x")], ["doc_id", "payload"])
        w = to_kafka_batch(df, bootstrap_servers="b:9092", topic="t_out")
        assert w is not None


class TestScratchReuse:
    def test_scratch_detaches_previous_fixture_off_path(self):
        """Repeated `_scratch(name)` calls (a bench harness runs one
        query 5x) must return a FRESH empty dir each time without paying
        the previous fixture's teardown inline: the old dir is renamed
        aside in O(1) and reclaimed by a background thread (r10 verdict
        item 3 — timed runs should measure the pipeline, not directory
        churn)."""
        import time as _time

        from dig_etl_engine_spark import queries_io as qio

        p1 = qio._scratch("scratch_reuse_test")
        marker = os.path.join(p1, "state")
        os.makedirs(os.path.join(p1, "ck"), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("x")
        p2 = qio._scratch("scratch_reuse_test")
        assert p2 == p1
        assert os.path.isdir(p2) and not os.listdir(p2)  # fresh & empty
        # the old fixture is gone from the live path immediately and the
        # aside copy disappears shortly after (background reaper)
        deadline = _time.monotonic() + 10
        while _time.monotonic() < deadline:
            asides = [n for n in os.listdir(qio._SCRATCH)
                      if n.startswith("scratch_reuse_test.reap-")]
            if not asides:
                break
            _time.sleep(0.05)
        assert not asides, f"aside dirs never reaped: {asides}"


def _demote_to_legacy_layout(p: str) -> None:
    """Convert a manifest-era table back to the pre-r11 legacy layout
    (visible ``_kb=<n>`` dirs, no manifest) — the fixture for every test
    that exercises the legacy-protocol healing paths, which the manifest
    protocol itself can no longer produce."""
    import glob as _glob
    import shutil as _shutil

    m = kg_table._load_manifest(p)
    assert m is not None
    for n, d in m["live"].items():
        src = os.path.join(p, d)
        dst = os.path.join(p, f"_kb={n}")
        if src != dst:
            os.rename(src, dst)
    os.remove(os.path.join(p, kg_table._MANIFEST))
    for leftover in _glob.glob(os.path.join(_glob.escape(p), ".kbe_*")):
        _shutil.rmtree(leftover, ignore_errors=True)
    # pre-r11 builds wrote neither the swept-gen sidecar nor the
    # naive-read guard — a faithful legacy fixture carries neither
    for extra in (kg_table._SWEPT_GEN, kg_table._NAIVE_READ_GUARD):
        try:
            os.remove(os.path.join(p, extra))
        except OSError:
            pass


class TestCompaction:
    def test_compact_fragmented_buckets(self, spark, tmp_path):
        """A bucket fragmented into many small files (the accumulation
        pattern of per-batch appends) compacts to one file with data
        identical; tidy buckets are untouched."""
        import glob
        import shutil
        p = str(tmp_path / "t")
        schema = TestUpsert.SCHEMA
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(40)], schema)
        kg_table.upsert_partitioned(spark, p, b, buckets=4)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}

        # fragment one bucket: rewrite its live dir's rows as 3 files
        live = kg_table._live_bucket_dirs(p)
        n0 = sorted(live)[0]
        d0 = os.path.join(p, live[n0])
        rows = spark.read.parquet(d0).collect()
        assert len(rows) >= 3
        shutil.rmtree(d0)
        for i in range(3):
            chunk = rows[i::3]
            spark.createDataFrame(chunk, schema) \
                .coalesce(1).write.mode("append").parquet(d0)
        assert len(glob.glob(f"{d0}/*.parquet")) == 3
        tidy_files = {n: sorted(glob.glob(f"{p}/{d}/*.parquet"))
                      for n, d in live.items() if n != n0}

        assert kg_table.compact_partitioned(spark, p) == 1
        live_after = kg_table._live_bucket_dirs(p)
        # the fragmented bucket republished under a NEW epoch dir with
        # one file; tidy buckets keep their exact dirs and files
        assert live_after[n0] != live[n0]
        assert len(glob.glob(f"{p}/{live_after[n0]}/*.parquet")) == 1
        for n, files in tidy_files.items():
            assert live_after[n] == live[n]
            assert sorted(glob.glob(f"{p}/{live[n]}/*.parquet")) == files
        after = {r.doc_id: (r.kafka_offset, r.v)
                 for r in kg_table.read_partitioned(spark, p).collect()}
        assert after == before

    def test_compact_noop_when_tidy(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b = spark.createDataFrame([("a", 1, "x")], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        assert kg_table.compact_partitioned(spark, p) == 0

    def test_compact_crash_litter_invisible_and_swept(self, spark, tmp_path):
        """A crashed compaction's temp dir (dot-prefixed) must be invisible
        to readers and swept by the next compaction run; a crash between
        the two swap renames leaves the original under .compact_old_* for
        manual recovery, also invisible to readers."""
        import glob
        import os
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(10)], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        before = {r.doc_id for r in
                  kg_table.read_partitioned(spark, p).collect()}

        # simulate a crash mid-compaction: stale temp dir with bogus
        # data — and no swept-gen sidecar, because every real mutating
        # writer unlinks it BEFORE staging new on-disk state (a clean
        # sidecar with litter present is only reachable by hand-edits,
        # which the fast path documents as out of contract)
        stale = os.path.join(p, ".compact_tmp_0_deadbeef")
        spark.createDataFrame([("ghost", 99, "x")], TestUpsert.SCHEMA) \
            .coalesce(1).write.parquet(stale)
        kg_table._invalidate_swept_gen(p)
        got = {r.doc_id for r in
               kg_table.read_partitioned(spark, p).collect()}
        assert got == before            # litter invisible to readers

        assert kg_table.compact_partitioned(spark, p) == 0
        assert not glob.glob(os.path.join(p, ".compact_tmp_*"))  # swept
        after = {r.doc_id for r in
                 kg_table.read_partitioned(spark, p).collect()}
        assert after == before

    def test_compact_completes_interrupted_swap(self, spark, tmp_path):
        """A PRE-MANIFEST table crashed between its old protocol's two
        swap renames: (.compact_tmp_*, .compact_old_*) on disk, bucket
        dir missing. The next run's legacy healing must FINISH the swap
        from the complete tmp copy — not delete it — before migrating
        the table to the manifest."""
        import glob
        import os
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(10)], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        _demote_to_legacy_layout(p)
        before = {r.doc_id for r in
                  kg_table.read_partitioned(spark, p).collect()}

        # simulate the mid-swap crash on bucket 0: d → old, tmp = the
        # compacted copy (here: a byte-identical copy of the bucket)
        d0 = sorted(glob.glob(os.path.join(p, "_kb=*")))[0]
        kb = d0.rsplit("=", 1)[1]
        import shutil
        shutil.copytree(d0, os.path.join(p, f".compact_tmp_{kb}_dead"))
        os.rename(d0, os.path.join(p, f".compact_old_{kb}_dead"))
        assert not os.path.isdir(d0)

        assert kg_table.compact_partitioned(spark, p) == 0
        assert os.path.isdir(d0)                      # bucket restored
        assert not glob.glob(os.path.join(p, ".compact_*"))
        after = {r.doc_id for r in
                 kg_table.read_partitioned(spark, p).collect()}
        assert after == before


class TestWebdataset:
    def _docs(self, spark, n=40, parts=1):
        rows = [(i, f"text body {i}", "en", f"s{i % 3}") for i in range(n)]
        return spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING") \
            .repartition(parts)

    def test_roundtrip_and_manifest(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        docs = self._docs(spark)
        man = write_webdataset(docs, str(tmp_path / "wd"),
                               meta_cols=["lang", "source"],
                               n_shards=4).collect()
        assert sum(r["n_docs"] for r in man) == 40
        assert {r["shard"] for r in man} <= set(range(4))
        back = read_webdataset(spark, str(tmp_path / "wd"))
        got = {int(r["key"]): (r["text"], r["meta"])
               for r in back.collect()}
        assert len(got) == 40
        import json as _json
        assert got[7][0] == "text body 7"
        assert _json.loads(got[7][1]) == {"lang": "en", "source": "s1"}

    def test_shard_bytes_reproducible_across_partitionings(
            self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import write_webdataset
        import hashlib
        digests = []
        for i, parts in enumerate((1, 7)):
            p = str(tmp_path / f"wd{i}")
            write_webdataset(self._docs(spark, parts=parts), p,
                             meta_cols=["lang"], n_shards=4).collect()
            import os as _os
            digests.append({
                f: hashlib.md5(open(_os.path.join(p, f), "rb").read())
                .hexdigest() for f in sorted(_os.listdir(p))})
        assert digests[0] == digests[1]
        assert len(digests[0]) == 4

    def test_empty_and_null_text(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        df = spark.createDataFrame(
            [(1, None, "en", "s"), (2, "", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        write_webdataset(df, str(tmp_path / "wd"), meta_cols=["lang"],
                         n_shards=2).collect()
        back = {int(r["key"]): r["text"] for r in read_webdataset(
            spark, str(tmp_path / "wd")).collect()}
        # NULL → member omitted → NULL again; '' stays '' — the round
        # trip distinguishes them instead of collapsing both to ''
        assert back == {1: None, 2: ""}

    def test_binary_members_roundtrip(self, spark, tmp_path):
        """Multimodal payload path: a binary column rides as
        {key}.jpg members; NULL payload → member omitted."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        df = spark.createDataFrame(
            [(1, "cap one", bytearray(b"\xff\xd8fakejpeg1")),
             (2, "cap two", bytearray(b"\xff\xd8fakejpeg2")),
             (3, "no image", None)],
            "doc_id LONG, text STRING, img BINARY")
        write_webdataset(df, str(tmp_path / "wd"), bin_col="img",
                         bin_ext="jpg", n_shards=2).collect()
        back = {int(r["key"]): (r["text"],
                                {k: bytes(v) for k, v in r["bins"].items()}
                                if r["bins"] is not None else None)
                for r in read_webdataset(spark,
                                         str(tmp_path / "wd")).collect()}
        assert back[1] == ("cap one", {"jpg": b"\xff\xd8fakejpeg1"})
        assert back[2] == ("cap two", {"jpg": b"\xff\xd8fakejpeg2"})
        assert back[3] == ("no image", None)

    def test_reexport_clears_stale_shards(self, spark, tmp_path):
        """Shrinking the shard count must not leave old tars for the
        reader's glob to pick up."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 40), p, meta_cols=["lang"],
                         n_shards=16).collect()
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        back = read_webdataset(spark, p).collect()
        assert len(back) == 10
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_null_id_raises_clearly(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import write_webdataset
        import pytest as _pytest
        df = spark.createDataFrame(
            [(1, "a", "en", "s"), (None, "b", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        with _pytest.raises(Exception, match="NULL 'doc_id'"):
            write_webdataset(df, str(tmp_path / "wd"),
                             n_shards=2).collect()

    def test_failed_export_preserves_previous_shards(self, spark,
                                                     tmp_path):
        """A crashed export (here: the NULL-id rejection mid-job) must
        leave the prior export untouched — staged write, swap only on
        success — and sweep its staging leftovers on the next run."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        import pytest as _pytest
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2)
        bad = spark.createDataFrame(
            [(1, "a", "en", "s"), (None, "b", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        with _pytest.raises(Exception, match="NULL 'doc_id'"):
            write_webdataset(bad, p, n_shards=2)
        assert not _glob.glob(os.path.join(p, ".staging-*"))
        assert not _glob.glob(os.path.join(p, "shard-*.tar.tmp.*"))
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_torn_swap_rolls_back_before_commit_marker(self, spark,
                                                       tmp_path):
        """Crash mid-retire (before _RETIRED): the prior export is the
        only complete one. A read resolves it READ-ONLY (path ∪ .old);
        the next export's entry heals it for real. Readers must not
        mutate — a live writer's swap transiently looks torn."""
        import glob as _glob
        import shutil as _shutil
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        # simulate: some live shards already moved aside, marker not yet
        oldd = os.path.join(p, ".old")
        os.makedirs(oldd)
        shards = sorted(_glob.glob(os.path.join(p, "shard-*.tar")))
        os.replace(shards[0],
                   os.path.join(oldd, os.path.basename(shards[0])))
        back = read_webdataset(spark, p).collect()  # read-only view
        assert {int(r["key"]) for r in back} == set(range(10))
        assert os.path.isdir(oldd)  # the read did NOT mutate
        # the next WRITER rolls the torn swap back before exporting
        write_webdataset(self._docs(spark, 5), p, meta_cols=["lang"],
                         n_shards=2).collect()
        assert not os.path.isdir(oldd)
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(5))
        _shutil.rmtree(p)

    def test_torn_swap_rolls_forward_after_commit_marker(self, spark,
                                                         tmp_path):
        """Crash mid-move-in (after _RETIRED): the staged set was
        complete when the swap began — a read resolves the NEW export
        read-only (path ∪ staging); the next writer heals forward."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        # simulate a committed-but-torn swap to a NEW 20-doc export:
        # retire the live shards, mark, leave the new set in staging
        oldd = os.path.join(p, ".old")
        os.makedirs(oldd)
        for s in _glob.glob(os.path.join(p, "shard-*.tar")):
            os.replace(s, os.path.join(oldd, os.path.basename(s)))
        with open(os.path.join(oldd, "_RETIRED"), "w") as fh:
            fh.write("1")
        staging = os.path.join(p, ".staging-999999")
        write_webdataset(self._docs(spark, 20), staging,
                         meta_cols=["lang"], n_shards=2).collect()
        back = read_webdataset(spark, p).collect()  # read-only view
        assert {int(r["key"]) for r in back} == set(range(20))
        assert os.path.isdir(oldd)  # the read did NOT mutate
        # the next WRITER heals forward on entry, then swaps its export
        write_webdataset(self._docs(spark, 3), p, meta_cols=["lang"],
                         n_shards=2).collect()
        assert not os.path.isdir(oldd)
        assert not _glob.glob(os.path.join(p, ".staging-*"))
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(3))

    def test_read_path_with_space_and_uri_decoding(self, spark,
                                                   tmp_path):
        """binaryFile returns percent-encoded file: URIs; a path with a
        space must survive the decode (the fpath[5:] strip did not)."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd dir")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_foreign_tar_members_skipped(self, spark, tmp_path):
        """Foreign tars carry directory entries, extensionless READMEs
        and the odd symlink; the reader must skip them instead of
        crashing on rsplit/extractfile."""
        import io as _io
        import tarfile as _tarfile
        from dig_etl_engine_spark.sinks.webdataset import read_webdataset
        p = tmp_path / "wd"
        p.mkdir()
        with _tarfile.open(p / "shard-00000.tar", "w") as tar:
            d = _tarfile.TarInfo("data")          # directory member
            d.type = _tarfile.DIRTYPE
            tar.addfile(d)
            r = _tarfile.TarInfo("README")        # extensionless file
            r.size = 5
            tar.addfile(r, _io.BytesIO(b"hello"))
            ln = _tarfile.TarInfo("alias.txt")    # symlink, not a file
            ln.type = _tarfile.SYMTYPE
            ln.linkname = "000000000001.txt"
            tar.addfile(ln)
            for name, payload in [("000000000001.txt", b"real doc"),
                                  ("000000000001.json", b"{}")]:
                i = _tarfile.TarInfo(name)
                i.size = len(payload)
                tar.addfile(i, _io.BytesIO(payload))
        back = read_webdataset(spark, str(p)).collect()
        assert len(back) == 1
        assert back[0]["key"] == "000000000001"
        assert back[0]["text"] == "real doc"


class TestForeachBatchIdempotence:
    """The streaming rollup folds must skip replayed micro-batches —
    foreachBatch is at-least-once (`queries_io._batch_already_applied`
    + `_swap_state`)."""

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        from dig_etl_engine_spark.queries_io import (
            _batch_already_applied, _swap_state)
        target = str(tmp_path / "state")
        s0 = spark.createDataFrame([(1, 10)], "k LONG, n LONG")
        assert not _batch_already_applied(target, 0)
        _swap_state(s0, target, 0)
        # same bid again → replay detected, fold must be skipped
        assert _batch_already_applied(target, 0)
        assert not _batch_already_applied(target, 1)
        s1 = spark.createDataFrame([(1, 30)], "k LONG, n LONG")
        _swap_state(s1, target, 1)
        assert _batch_already_applied(target, 1)
        rows = spark.read.parquet(target).collect()
        assert [(r["k"], r["n"]) for r in rows] == [(1, 30)]

    def test_batch_id_survives_swap_atomically(self, spark, tmp_path):
        """The id file lives INSIDE the state dir and is `_`-prefixed:
        swapped with the data, invisible to the parquet reader."""
        from dig_etl_engine_spark.queries_io import _swap_state
        target = str(tmp_path / "state")
        df = spark.createDataFrame([(1, 1)], "k LONG, n LONG")
        _swap_state(df, target, 7)
        assert open(os.path.join(target, "_LAST_BATCH_ID")).read() == "7"
        assert spark.read.parquet(target).count() == 1


class TestMultimodalNullPayloads:
    def test_null_payload_yields_null_features(self, spark):
        """Per-doc error isolation (C5): a corrupt/absent asset becomes a
        NULL-feature row to quarantine downstream, never a stage failure."""
        from dig_etl_engine_spark.operators.multimodal import (
            extract_features)
        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNGdata")), (2, None)],
            "doc_id LONG, payload BINARY")
        rows = {r["doc_id"]: r for r in extract_features(df).collect()}
        assert rows[1]["n_bytes"] == 8
        assert rows[1]["header_hex"] == "89504e47"
        assert rows[2]["n_bytes"] is None
        assert rows[2]["header_hex"] is None
        assert rows[2]["feature_md5"] is None


class TestSwapStateCrashWindows:
    def test_recover_from_between_renames_crash(self, spark, tmp_path):
        """Simulate a crash between _swap_state's two renames: target
        gone, .old holds the only state — the next call must restore it
        and still fold the replayed batch from the OLD state."""
        from dig_etl_engine_spark.queries_io import (
            _batch_already_applied, _swap_state)
        target = str(tmp_path / "state")
        _swap_state(spark.createDataFrame([(1, 10)], "k LONG, n LONG"),
                    target, 0)
        # crash simulation: state renamed aside, new state never moved in
        os.rename(target, target + ".old")
        assert not os.path.isdir(target)
        assert not _batch_already_applied(target, 1)   # heals + allows
        assert os.path.isdir(target)                   # restored
        rows = spark.read.parquet(target).collect()
        assert [(r["k"], r["n"]) for r in rows] == [(1, 10)]
        # batch 0 is still recorded as applied in the restored state
        assert _batch_already_applied(target, 0)

    def test_leftover_old_dir_is_swept(self, spark, tmp_path):
        from dig_etl_engine_spark.queries_io import _swap_state
        target = str(tmp_path / "state")
        _swap_state(spark.createDataFrame([(1, 1)], "k LONG, n LONG"),
                    target, 0)
        _swap_state(spark.createDataFrame([(1, 2)], "k LONG, n LONG"),
                    target, 1)
        assert not os.path.isdir(target + ".old")
        assert not os.path.isdir(target + ".next")
        assert spark.read.parquet(target).head()["n"] == 2


class TestIterSamplesProperty:
    """Hypothesis fuzz of the pure tar member-grouping kernel
    (`sinks/webdataset.iter_samples`) against a straightforward
    reference: filter regular members with an extension in basename,
    then group contiguous same-stem runs keeping the last payload per
    extension within a run."""

    @staticmethod
    def _build_tar(members):
        import io as _io
        import tarfile as _tarfile
        buf = _io.BytesIO()
        with _tarfile.open(fileobj=buf, mode="w") as tar:
            for name, kind, payload in members:
                info = _tarfile.TarInfo(name)
                if kind == "dir":
                    info.type = _tarfile.DIRTYPE
                    tar.addfile(info)
                elif kind == "sym":
                    info.type = _tarfile.SYMTYPE
                    info.linkname = "x"
                    tar.addfile(info)
                else:
                    info.size = len(payload)
                    tar.addfile(info, _io.BytesIO(payload))
        buf.seek(0)
        return buf

    @staticmethod
    def _reference(members):
        import os as _os
        runs, cur_stem, cur = [], None, None
        for name, kind, payload in members:
            if kind != "file" or "." not in _os.path.basename(name):
                continue
            stem, ext = name.rsplit(".", 1)
            if stem != cur_stem:
                if cur_stem is not None:
                    runs.append((cur_stem, cur))
                cur_stem, cur = stem, {}
            cur[ext] = payload
        if cur_stem is not None:
            runs.append((cur_stem, cur))
        return runs

    def test_matches_reference(self):
        import tarfile as _tarfile
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from dig_etl_engine_spark.sinks.webdataset import iter_samples

        name = st.one_of(
            st.sampled_from(["README", "data", "./a.txt", "a.txt",
                             "a.json", "a.bin", "b.txt", "b.json",
                             "dir/c.txt", "some.dir/d", "x..", ".hidden",
                             "x.y.z"]),
            st.text(alphabet="ab./_", min_size=1, max_size=8)
            .filter(lambda s: not s.endswith("/") and s not in (".", "..")
                    and "//" not in s and not s.startswith("/")),
        )
        member = st.tuples(name, st.sampled_from(["file", "dir", "sym"]),
                           st.binary(max_size=16))

        @given(st.lists(member, max_size=24))
        @settings(max_examples=200, deadline=None)
        def check(members):
            buf = self._build_tar(members)
            with _tarfile.open(fileobj=buf) as tar:
                got = [(s, dict(p)) for s, p in iter_samples(tar)]
            assert got == self._reference(members)

        check()


class TestBucketMetaAndRebucket:
    """The bucket count is a table property (`_kg_buckets` meta, persisted
    at birth, wins over the argument) and `rebucket_partitioned` is the
    sanctioned way to change it — a mismatched argument used to silently
    leave stale key copies in old-count buckets (duplicate keys on
    read)."""

    SCHEMA = TestUpsert.SCHEMA

    def _table(self, spark, tmp_path, buckets=8, n=40):
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(f"k{i}", 1, "base") for i in range(n)], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, base, buckets=buckets)
        return p

    def test_mismatched_buckets_argument_is_ignored(self, spark, tmp_path):
        p = self._table(spark, tmp_path, buckets=8)
        # upsert the same keys claiming a DIFFERENT bucket count: with the
        # meta guard the table keeps 8-way layout and last-write-wins holds
        upd = spark.createDataFrame(
            [(f"k{i}", 10, "new") for i in range(40)], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, upd, buckets=16)
        rows = kg_table.read_partitioned(spark, p).collect()
        assert len(rows) == 40                     # no duplicate keys
        assert all(r.v == "new" for r in rows)
        import glob
        kbs = {int(d.rsplit("=", 1)[1])
               for d in glob.glob(f"{p}/_kb=*")}
        assert kbs <= set(range(8))                # still 8-way

    def test_legacy_table_rejects_too_small_bucket_argument(
            self, spark, tmp_path):
        """Pre-meta legacy tables can't adopt a bucket count the _kb=
        layout disproves: dirs hold values in [0, build_count), so any
        _kb >= argument means the argument is smaller than the build
        count — adopting (and persisting!) it would make the silent-
        duplicate-keys hole permanent. Equal counts still adopt.
        (A MANIFEST table that merely lost its meta file never reaches
        this path — the manifest carries the true count, covered by
        test_meta_loss_recovers_hash_version_from_manifest — so the
        fixture must be a genuinely pre-manifest table.)"""
        import pytest as _pytest
        p = self._table(spark, tmp_path, buckets=8, n=200)  # fills _kb=0..7
        _demote_to_legacy_layout(p)
        os.remove(os.path.join(p, "_kg_buckets"))           # make it legacy
        upd = spark.createDataFrame([("k0", 9, "new")], self.SCHEMA)
        with _pytest.raises(ValueError, match="larger bucket count"):
            kg_table.upsert_partitioned(spark, p, upd, buckets=4)
        assert not os.path.exists(os.path.join(p, "_kg_buckets"))
        # the true count adopts cleanly and re-persists the meta
        kg_table.upsert_partitioned(spark, p, upd, buckets=8)
        rows = {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()}
        assert rows["k0"] == "new" and len(rows) == 200

    def test_rebucket_grows_table_layout(self, spark, tmp_path):
        import glob
        p = self._table(spark, tmp_path, buckets=2)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}
        n = kg_table.rebucket_partitioned(spark, p, 8)
        assert n == len(before)
        kbs = {int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{p}/_kb=*")}
        assert len(kbs) > 2 and kbs <= set(range(8))
        after = {r.doc_id: (r.kafka_offset, r.v)
                 for r in kg_table.read_partitioned(spark, p).collect()}
        assert after == before
        # subsequent upserts adopt the new count from the meta even with
        # a stale default argument, and merge correctly
        upd = spark.createDataFrame([("k0", 99, "post")], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, upd, buckets=2)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got["k0"] == "post" and len(got) == len(before)

    def test_true_legacy_int_table_refuse_upgrade_merge(self, spark,
                                                        tmp_path):
        """End-to-end migration golden over a table whose legacy layout
        GENUINELY diverges from the widened hash (VERDICT r8 item 6):
        an INT-keyed table placed by the unwidened expression — where
        xxhash64(INT) and xxhash64(BIGINT) bucket the same logical keys
        differently — must (1) keep merging same-type batches under its
        birth contract with no duplicate keys, (2) refuse a wider-key
        batch with the upgrade path named, (3) relocate rows to the
        widened layout under rebucket_partitioned, (4) then merge the
        wider batch cleanly — aligned DOWN to the table's birth INT
        type (the schema is a cross-bucket contract: a coerced-up
        rewrite of only the touched buckets would leave the table
        unreadable, the r9 _align_to_table hazard) — and (5) refuse, at
        execution, a wider value that does not fit the birth type. The
        earlier marker test simulates legacy on a BIGINT key, where
        widening is the identity; this one proves the migration moves
        rows."""
        import glob

        from pyspark.sql import functions as F

        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(40)],
            "doc_id int, kafka_offset long, v string")
        # non-vacuity: the two hash versions must place at least one of
        # these keys differently, else the relocation assert below
        # proves nothing
        diverging = base.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4))
            != F.pmod(F.xxhash64(F.col("doc_id").cast("long")),
                      F.lit(4))).count()
        assert diverging > 0
        # build the TRUE legacy layout: dirs placed by the unwidened
        # hash, count-only meta (what a pre-r8 writer left on disk)
        (base.withColumn("_kb", kg_table._bucket_expr(
            base, "doc_id", 4, widened=False))
         .write.partitionBy("_kb").parquet(p))
        with open(os.path.join(p, "_kg_buckets"), "w") as fh:
            fh.write("4")

        legacy_dirs = {d.rsplit("=", 1)[1]: d
                       for d in glob.glob(f"{p}/_kb=*")}
        legacy_placement = {
            r.doc_id: r._kb
            for r in spark.read.option("basePath", p)
            .parquet(f"{p}/_kb=*").select("doc_id", "_kb").collect()}

        # (1) same-type batch merges under the birth contract
        b_int = spark.createDataFrame(
            [(7, 9, "upd")], "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, b_int, buckets=4)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[7] == "upd" and len(got) == 40   # no duplicate keys
        meta = os.path.join(p, "_kg_buckets")
        assert open(meta).read().split() == ["4"]   # still legacy

        # (2) a wider (BIGINT) batch cannot hash-agree: refuse, naming
        # the upgrade
        b_long = spark.createDataFrame(
            [(7, 11, "wide")], "doc_id long, kafka_offset long, v string")
        with pytest.raises(ValueError, match="rebucket_partitioned"):
            kg_table.upsert_partitioned(spark, p, b_long, buckets=4)

        # (3) upgrade: every row rewritten under the widened hash
        n = kg_table.rebucket_partitioned(spark, p, 4, key_col="doc_id")
        assert n == 40
        assert "widened" in open(meta).read().split()
        new_placement = {
            r.doc_id: r._kb
            for r in spark.read.option("basePath", p)
            .parquet(f"{p}/_kb=*").select("doc_id", "_kb").collect()}
        moved = [k for k in legacy_placement
                 if legacy_placement[k] != new_placement[k]]
        assert moved, (legacy_dirs, new_placement)   # rows relocated

        # (4) the wider batch now merges, aligned down to the birth INT
        # type; one row per key, values right, schema unchanged
        kg_table.upsert_partitioned(spark, p, b_long, buckets=4)
        table = kg_table.read_partitioned(spark, p)
        assert table.schema["doc_id"].dataType.simpleString() == "int"
        rows = table.collect()
        assert len(rows) == 40
        final = {r.doc_id: r.v for r in rows}
        assert final[7] == "wide"
        assert sum(1 for r in rows if r.doc_id == 7) == 1

        # (5) a wider VALUE that cannot fit the birth type fails loudly
        # at execution (guarded try_cast), and the failed staging write
        # leaves the table intact
        b_big = spark.createDataFrame(
            [(2**40, 12, "oob")],
            "doc_id long, kafka_offset long, v string")
        with pytest.raises(Exception, match="does not fit the table's"):
            kg_table.upsert_partitioned(spark, p, b_big, buckets=4)
        assert {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == final

        # (6) cross-bucket schema drift is refused for NON-key columns
        # and for batch-only new columns too (same mixed-parquet hazard)
        b_widecol = spark.createDataFrame(
            [(7, 13, "x", 1.5)],
            "doc_id int, kafka_offset long, v string, extra double")
        with pytest.raises(ValueError, match="adds column"):
            kg_table.upsert_partitioned(spark, p, b_widecol, buckets=4)
        b_cross = spark.createDataFrame(
            [(7, 13, 99)], "doc_id int, kafka_offset long, v int")
        with pytest.raises(ValueError, match="cross-family"):
            kg_table.upsert_partitioned(spark, p, b_cross, buckets=4)

    def test_flat_bootstrap_first_upsert_schema_evolution(self, spark,
                                                          tmp_path):
        """r9 round-close review regression: a batch-only NEW column is
        legal on the FIRST partitioned upsert after a flat
        create_table bootstrap — every row (stray ∪ batch) is rewritten
        in that one pass, so the column lands in every bucket
        atomically (this worked before _align_to_table landed and must
        keep working). Once bucketed dirs exist, a further new column
        refuses as before."""
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)

        p = str(tmp_path / "t")
        boot = spark.createDataFrame(
            [(i, 1, "base") for i in range(10)],
            "doc_id long, kafka_offset long, v string")
        boot.write.parquet(p)          # flat root layout = the bootstrap

        b1 = spark.createDataFrame(
            [(3, 2, "upd", 0.5)],
            "doc_id long, kafka_offset long, v string, extra double")
        upsert_partitioned(spark, p, b1, buckets=2)
        table = read_partitioned(spark, p)
        assert "extra" in table.columns
        got = {r.doc_id: (r.v, r.extra) for r in table.collect()}
        assert got[3] == ("upd", 0.5) and got[0] == ("base", None)
        assert len(got) == 10

        # bucketed dirs now exist: a second new column refuses
        b2 = spark.createDataFrame(
            [(4, 3, "x", 1.0, 7)],
            "doc_id long, kafka_offset long, v string, extra double, "
            "more int")
        with pytest.raises(ValueError, match="adds column"):
            upsert_partitioned(spark, p, b2, buckets=2)

    def test_align_to_table_width_matrix(self, spark):
        """_align_to_table unit battery over the full integral width
        ladder (tinyint/smallint/int/bigint — the migration golden only
        exercises int↔bigint) and the fractional pair: same-family
        narrowing keeps fitting values and raises on non-fitting ones,
        widening is silent, NULLs always pass, missing columns are
        untouched, and equal types short-circuit to the identity."""
        from pyspark.sql import types as T

        from dig_etl_engine_spark.sinks.kg_table import _align_to_table

        def ref(*fields):
            return T.StructType(
                [T.StructField(n, t) for n, t in fields]
                + [T.StructField("_kb", T.IntegerType())])

        # fitting values narrow cleanly down the whole ladder
        b = spark.createDataFrame([(100, 100, 100)],
                                  "a long, b int, c smallint")
        out = _align_to_table(
            b, ref(("a", T.ByteType()), ("b", T.ShortType()),
                   ("c", T.ByteType())), target_path="/t")
        assert [f.dataType.simpleString() for f in out.schema.fields] \
            == ["tinyint", "smallint", "tinyint"]
        assert out.collect() == [(100, 100, 100)]

        # a non-fitting value raises at execution, naming the column
        for bad, tgt in [((300,), T.ByteType()), ((40000,), T.ShortType()),
                         ((2**40,), T.IntegerType())]:
            nb = spark.createDataFrame([bad], "a long")
            with pytest.raises(Exception,
                               match="a value in batch column a"):
                _align_to_table(nb, ref(("a", tgt)),
                                target_path="/t").collect()

        # NULLs pass through every narrowing
        nb = spark.createDataFrame([(None,)], "a long")
        assert _align_to_table(nb, ref(("a", T.ByteType())),
                               target_path="/t").collect() == [(None,)]

        # widening (int batch into bigint table) is silent and exact
        nb = spark.createDataFrame([(7,)], "a int")
        out = _align_to_table(nb, ref(("a", T.LongType())),
                              target_path="/t")
        assert out.schema["a"].dataType.simpleString() == "bigint"
        assert out.collect() == [(7,)]

        # float batch into double table widens; fitting double→float
        # narrows; NaN survives (it is not an overflow)
        nb = spark.createDataFrame([(1.5,)], "a float")
        assert _align_to_table(nb, ref(("a", T.DoubleType())),
                               target_path="/t").collect() == [(1.5,)]
        nb = spark.createDataFrame([(float("nan"),)], "a double")
        got = _align_to_table(nb, ref(("a", T.FloatType())),
                              target_path="/t").collect()
        import math as _m
        assert _m.isnan(got[0][0])

        # equal types: the function is the identity (no rewrite plan)
        nb = spark.createDataFrame([(1, "x")], "a long, v string")
        assert _align_to_table(nb, ref(("a", T.LongType()),
                                       ("v", T.StringType())),
                               target_path="/t") is nb

    def test_fractional_overflow_to_infinity_refused(self, spark,
                                                     tmp_path):
        """r9 round-close review regression: ``try_cast`` yields NULL on
        integral overflow but double→float overflow yields ±Infinity, so
        the alignment guard's null-check alone silently stored Inf in a
        FLOAT-birth column. A finite double that overflows float must
        raise; a fitting double aligns down; an ALREADY-infinite source
        passes through (it is not a misencoding)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, float(i)) for i in range(8)],
            "doc_id long, kafka_offset long, score float")
        kg_table.upsert_partitioned(spark, p, base, buckets=2)

        b_over = spark.createDataFrame(
            [(3, 2, 1e300)], "doc_id long, kafka_offset long, score double")
        with pytest.raises(Exception, match="does not fit the table's"):
            kg_table.upsert_partitioned(spark, p, b_over, buckets=2)
        table = kg_table.read_partitioned(spark, p)
        assert table.schema["score"].dataType.simpleString() == "float"
        assert {r.doc_id: r.score for r in table.collect()}[3] == 3.0

        b_fit = spark.createDataFrame(
            [(3, 3, 1.5)], "doc_id long, kafka_offset long, score double")
        kg_table.upsert_partitioned(spark, p, b_fit, buckets=2)
        got = {r.doc_id: r.score
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[3] == 1.5 and len(got) == 8

        b_inf = spark.createDataFrame(
            [(4, 4, float("inf"))],
            "doc_id long, kafka_offset long, score double")
        kg_table.upsert_partitioned(spark, p, b_inf, buckets=2)
        got = {r.doc_id: r.score
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[4] == float("inf")

    def test_meta_loss_recovers_hash_version_from_manifest(
            self, spark, tmp_path):
        """A power loss can eat the (previously un-fsynced) _kg_buckets
        meta while the fsync-committed manifest survives. Without the
        manifest fallback, the metaless load would classify this WIDENED
        int-keyed table as legacy-unwidened, and the stored-row _kb
        recompute would scatter existing rows into wrong buckets —
        silent row loss (r11 round-close review). The manifest carries
        buckets+hash-version precisely so this load self-heals."""
        p = str(tmp_path / "t")
        schema = "doc_id int, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(30)], schema)
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        os.remove(os.path.join(p, kg_table._BUCKETS_META))
        # wrong bucket-count argument too: the manifest's value must win
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(0, "upd", 1), (99, "new", 1)], schema), buckets=16)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert len(got) == 31 and got[0] == "upd" and got[99] == "new"
        # meta re-persisted with the recovered (widened) version
        n, widened = kg_table._load_bucket_meta(p, 16)
        assert (n, widened) == (4, True)

    def test_compaction_led_migration_stamps_hash_facts(
            self, spark, tmp_path):
        """A legacy table whose FIRST manifest-era write is a
        compaction: the migration manifest must still carry the bucket
        count + hash version (lifted from the meta file at commit
        time), so the meta-loss recovery works for compaction-born
        manifests too (r11 round-close review, second pass)."""
        import glob as _glob
        import shutil as _sh

        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(30)], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, base, buckets=2)
        _demote_to_legacy_layout(p)
        # fragment one bucket so the compaction commits (and migrates)
        d0 = sorted(_glob.glob(os.path.join(p, "_kb=*")))[0]
        frag = d0 + "__frag"
        spark.read.parquet(d0).repartition(3).write.parquet(frag)
        _sh.rmtree(d0)
        os.rename(frag, d0)
        assert kg_table.compact_partitioned(spark, p, min_files=2) == 1
        m = kg_table._load_manifest(p)
        assert (m["buckets"], m["widened"]) == (2, True)
        # the full meta-loss scenario now recovers on this table too
        os.remove(os.path.join(p, kg_table._BUCKETS_META))
        assert kg_table._load_bucket_meta(p, 16) == (2, True)

    def test_placement_violation_refuses_instead_of_dropping_rows(
            self, spark, tmp_path):
        """Stored rows that hash outside their own directory (legacy
        width-drift corruption) must REFUSE the merge with the rebucket
        path named — under the manifest protocol a silent publish would
        REPLACE the mis-hashed target bucket's live dir and drop its
        incumbent rows (the pre-r11 directory-name read merely kept
        duplicates). Corruption model: a widened-placed INT-keyed table
        whose meta (and manifest) are doctored to claim unwidened
        hashing, so the merge recomputes existing rows' _kb under the
        WRONG hash."""
        import pytest as _pytest

        p = str(tmp_path / "t")
        schema = "doc_id int, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(40)], schema)
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        _demote_to_legacy_layout(p)           # drop the manifest
        with open(os.path.join(p, kg_table._BUCKETS_META), "w",
                  encoding="utf-8") as fh:
            fh.write("4")                     # claim legacy UNWIDENED
        batch = spark.createDataFrame([(0, "upd", 1)], schema)
        with _pytest.raises(ValueError, match="placement-invariant"):
            kg_table.upsert_partitioned(spark, p, batch, buckets=4)
        # refused BEFORE any publish: the table is intact
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert len(got) == 40 and all(v == "base" for v in got.values())

    def test_transient_pointer_read_error_fails_not_demotes(
            self, spark, tmp_path, monkeypatch):
        """A transient open() failure on the manifest (EMFILE under a
        busy driver, EACCES, NFS error) must PROPAGATE, not read as
        'no pointer': masked, _load_manifest returns None, the next
        upsert treats the committed table as a birth write and its
        sweep deletes every previously committed epoch dir — silent
        truncation (r11 external review, medium)."""
        p = str(tmp_path / "t")
        schema = "doc_id long, v string, kafka_offset long"
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(i, "base", 0) for i in range(20)], schema), buckets=4)
        assert kg_table._load_manifest(p) is not None
        real_open = open
        mpath = os.path.join(p, kg_table._MANIFEST)

        def flaky_open(f, *a, **kw):
            if str(f) == mpath:
                raise PermissionError(13, "transient fs error", str(f))
            return real_open(f, *a, **kw)

        with monkeypatch.context() as mp:
            mp.setattr("builtins.open", flaky_open)
            with pytest.raises(PermissionError):
                kg_table._load_manifest(p)
            with pytest.raises(PermissionError):
                kg_table.upsert_partitioned(
                    spark, p, spark.createDataFrame(
                        [(99, "new", 1)], schema), buckets=4)
        # nothing was demoted or swept: the table is fully intact
        got = {r.doc_id for r in
               kg_table.read_partitioned(spark, p).collect()}
        assert got == set(range(20))
        # absence still reads as absence (legacy/birth tables work)
        assert kg_table.resolve_pointer(
            str(tmp_path / "never_written"), name=kg_table._MANIFEST) \
            is None

    def test_schema_probe_falls_back_past_empty_bucket_dir(
            self, spark, tmp_path):
        """The O(1) incumbent-schema probe reads the lowest-id live
        bucket dir; if that dir was hand-emptied the probe must fall
        back to the next live dir instead of failing the whole upsert
        at UNABLE_TO_INFER_SCHEMA (r11 external review, low) — and an
        all-empty layout must refuse with the repair named."""
        p = str(tmp_path / "t")
        schema = "doc_id long, v string, kafka_offset long"
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(i, "base", 0) for i in range(40)], schema), buckets=4)
        live = kg_table._live_bucket_dirs(p)
        assert len(live) == 4
        lowest = live[sorted(live)[0]]
        for f in os.listdir(os.path.join(p, lowest)):
            if f.endswith(".parquet"):
                os.remove(os.path.join(p, lowest, f))
        # a key whose bucket is NOT the emptied one (so the merge never
        # has to read the damaged dir's data)
        emptied = sorted(live)[0]
        cand = next(
            k for k in range(100, 200)
            if spark.range(1).select(
                F.pmod(F.xxhash64(F.lit(k).cast("long")),
                       F.lit(4)).cast("int").alias("b")
            ).collect()[0].b != emptied)
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(cand, "new", 1)], schema), buckets=4)
        got = {r.doc_id for r in
               kg_table.read_partitioned(spark, p).collect()}
        assert cand in got
        # all live dirs emptied → loud refusal naming the repair
        live = kg_table._live_bucket_dirs(p)
        for dname in live.values():
            for f in os.listdir(os.path.join(p, dname)):
                if f.endswith(".parquet"):
                    os.remove(os.path.join(p, dname, f))
        with pytest.raises(ValueError, match="rebucket_partitioned"):
            kg_table.upsert_partitioned(
                spark, p, spark.createDataFrame(
                    [(1, "x", 2)], schema), buckets=4)

    def test_rebucket_crash_recovery_states(self, spark, tmp_path):
        import shutil as _sh
        p = self._table(spark, tmp_path, buckets=2)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}

        # state A: crash between the two swap renames — table dir gone,
        # complete staging dir present → next run finishes the swap
        tmp = p + ".rebucket_tmp.999"
        kg_table.rebucket_partitioned(spark, p, 4)
        _sh.copytree(p, tmp)                       # complete staged copy
        _sh.rmtree(p)
        kg_table.rebucket_partitioned(spark, p, 8)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before

        # state B: crash mid-staging-write — incomplete staging (no meta),
        # table intact → stale staging swept, rebucket proceeds
        bad = p + ".rebucket_tmp.998"
        os.makedirs(bad)
        open(os.path.join(bad, "_SUCCESS"), "w").close()  # no meta file
        kg_table.rebucket_partitioned(spark, p, 4)
        assert not os.path.isdir(bad)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before

        # state C: table gone, only .rebucket_old survives → restored
        old = p + ".rebucket_old"
        _sh.copytree(p, old)
        _sh.rmtree(p)
        kg_table.rebucket_partitioned(spark, p, 4)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before


class TestDurabilityAndLayoutGuards:
    """r12 protocol hardening: the naive-read tripwire on mixed
    visible/hidden layouts, configurable grace retention, the
    swept-gen fast path, and the staged-data fsync ordering."""

    SCHEMA = "doc_id long, v string, kafka_offset long"

    def _batch(self, spark, pairs):
        return spark.createDataFrame(
            [(k, v, o) for k, v, o in pairs], self.SCHEMA)

    def test_naive_read_guard_trips_on_migrated_table(
            self, spark, tmp_path):
        """An in-place-migrated table (visible legacy _kb= dirs beside
        hidden epochs) silently serves stale/partial rows to a raw
        spark.read.parquet(root) — the verdict-r11 hazard. The guard
        file must make that read FAIL LOUDLY while read_partitioned
        stays exact."""
        p = str(tmp_path / "t")
        base = self._batch(spark, [(i, "base", 0) for i in range(24)])
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        _demote_to_legacy_layout(p)
        # legacy tables (all dirs visible) carry no guard: a root read
        # resolves them correctly, and poisoning it would break
        # external tools that legitimately read never-migrated tables
        assert not os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        # first mutating entry migrates in place → mixed layout
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(0, "upd", 1)]), buckets=4)
        m = kg_table._load_manifest(p)
        assert any(d.startswith(".kbe_") for d in m["live"].values())
        assert any(d.startswith("_kb=") for d in m["live"].values())
        assert os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        with pytest.raises(Exception, match="KG_NAIVE_READ_GUARD"):
            spark.read.parquet(p).collect()
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert len(got) == 24 and got[0] == "upd"
        # rebucket normalizes: fresh all-visible layout, no guard, and
        # a naive root read resolves the full table again
        kg_table.rebucket_partitioned(spark, p, 4)
        assert not os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        naive = {r.doc_id: r.v for r in spark.read.parquet(p)
                 .select("doc_id", "v").collect()}
        assert naive == got

    def test_grace_retention_generations(self, spark, tmp_path,
                                         monkeypatch):
        """Default retention (1 generation): a superseded dir is
        reclaimed at the NEXT commit. Depth 2: it survives one more
        commit — the knob long lock-free scans need (r11 external
        review, low)."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)

        def live_dir_of(key_bucket):
            return kg_table._live_bucket_dirs(p)[key_bucket]

        def commit_touching_all(off):
            kg_table.upsert_partitioned(
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)

        # depth 2: superseded dirs survive the commit AFTER the one
        # that superseded them
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_GENERATIONS", 2)
        gen1_dirs = set(kg_table._live_bucket_dirs(p).values())
        commit_touching_all(1)      # supersedes gen1 dirs
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)
        commit_touching_all(2)      # gen1 dirs now 2 commits old
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)  # still within depth 2
        commit_touching_all(3)      # 3 commits old → reclaimed
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)
        # default depth 1: reclaimed at the very next commit
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_GENERATIONS", 1)
        cur = set(kg_table._live_bucket_dirs(p).values())
        commit_touching_all(4)      # supersedes cur (kept as grace)
        assert all(os.path.isdir(os.path.join(p, d)) for d in cur)
        commit_touching_all(5)
        assert not any(os.path.isdir(os.path.join(p, d)) for d in cur)

    def test_grace_retention_time_window(self, spark, tmp_path,
                                         monkeypatch):
        """A time window keeps superseded dirs across ANY number of
        quick commits (Delta-VACUUM style retain-until)."""
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 3600.0)
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)
        gen1_dirs = set(kg_table._live_bucket_dirs(p).values())
        for off in range(1, 4):
            kg_table.upsert_partitioned(
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)
        # three commits later, the hour-old-at-most dirs all survive
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)
        m = kg_table._load_manifest(p)
        assert sum(len(es) for es in m["grace"].values()) >= 6
        # window off → the next writer entry's recovery prunes them —
        # WITHOUT hand-invalidating the sidecar: the fast path's pure
        # prune probe must notice releasable entries itself (r12
        # review: otherwise clock-expired grace on an idle table is
        # never reclaimed by non-committing entries)
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 0.0)
        kg_table._recover_partitioned_swap(p)
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)

    def test_clock_expired_grace_reclaimed_without_commit(
            self, spark, tmp_path, monkeypatch):
        """r12 review finding 1: with a time window configured, grace
        expires by CLOCK — a non-committing writer entry (nightly
        compaction with nothing to do) must reclaim expired dirs even
        though the swept-gen sidecar matches the manifest
        generation."""
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 3600.0)
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)
        gen1_dirs = set(kg_table._live_bucket_dirs(p).values())
        for off in (1, 2):       # two more commits: gen1 dirs become
            kg_table.upsert_partitioned(  # GEN-expired, time-retained
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)
        gen3_dirs = set(kg_table._live_bucket_dirs(p).values())
        m = kg_table._load_manifest(p)
        assert kg_table._read_swept_gen(p) == m["gen"]
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)        # time-retained only
        real_time = time.time
        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.time.time",
                       lambda: real_time() + 7200.0)  # window elapsed
            kg_table._recover_partitioned_swap(p)     # no invalidation
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)
        # the latest commit's grace stays (gen-retained), and steady
        # state is restored: the next entry fast-paths again
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen3_dirs)
        assert kg_table._read_swept_gen(p) == m["gen"]

    def test_partial_cleanup_leaves_sidecar_unstamped(
            self, spark, tmp_path, monkeypatch):
        """r12 review finding 2: if the publish's residue cleanup
        fails partially (NFS silly-rename, EBUSY), the swept-gen
        sidecar must NOT be stamped — otherwise the fast path shields
        the leftover from every future sweep."""
        p = str(tmp_path / "t")
        real_rmtree = kg_table.shutil.rmtree

        def flaky_rmtree(path, **kw):
            if ".upsert_tmp_" in str(path):
                return None        # silently fails, like ignore_errors
            return real_rmtree(path, **kw)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.shutil."
                       "rmtree", flaky_rmtree)
            kg_table.upsert_partitioned(
                spark, p, self._batch(spark, [(i, "b", 0) for i in
                                              range(8)]), buckets=2)
        assert glob.glob(os.path.join(p, ".upsert_tmp_*"))  # leftover
        assert kg_table._read_swept_gen(p) is None          # unstamped
        # the next (healthy) entry's full sweep reclaims and stamps
        kg_table._recover_partitioned_swap(p)
        assert not glob.glob(os.path.join(p, ".upsert_tmp_*"))
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_v1_grace_entries_adopt_parse_time(self, tmp_path):
        """r12 review finding 3 (+ second pass): a v1 manifest's grace
        entries carry no timestamp; parsing them as 'infinitely old'
        would let a configured time window release a dir recorded
        seconds before the upgrade. They must adopt parse time — AND
        the next recovery must FREEZE the adopted value with a v2
        rewrite, or every parse re-adopts a fresh 'now' and the
        retention clock never starts (superseded dirs retained
        forever)."""
        import json
        p = str(tmp_path / "t")
        os.makedirs(p)
        for n, d in ((0, ".kbe_0_b"), (1, ".kbe_1_a"), (0, ".kbe_0_a")):
            os.makedirs(os.path.join(p, d), exist_ok=True)
        v1 = json.dumps({"v": 1, "gen": 3, "buckets": 2,
                         "widened": True,
                         "live": {"0": ".kbe_0_b", "1": ".kbe_1_a"},
                         "grace": {"0": [".kbe_0_a", 3]}})
        kg_table.commit_pointer(p, v1, name=kg_table._MANIFEST)
        before = time.time()
        m = kg_table._load_manifest(p)
        assert m["adopted_ts"]
        (d, g, ts), = m["grace"][0]
        assert (d, g) == (".kbe_0_a", 3)
        assert before - 1.0 <= ts <= time.time() + 1.0
        # recovery freezes: the manifest is rewritten v2 and a later
        # parse returns a STABLE timestamp with no re-adoption
        kg_table._recover_partitioned_swap(p)
        m2 = kg_table._load_manifest(p)
        assert not m2["adopted_ts"]
        frozen = m2["grace"][0][0][2]
        time.sleep(0.05)
        assert kg_table._load_manifest(p)["grace"][0][0][2] == frozen

    def test_empty_publish_restamps_current_generation(
            self, spark, tmp_path):
        """r12 second-pass finding: a streaming micro-batch that
        delivers no rows unlinks the sidecar (before staging) but used
        to never re-stamp it (no commit happened) — every later entry
        paid the full sweep on an untouched table. An empty clean
        publish must re-stamp the CURRENT generation."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        gen = kg_table._load_manifest(p)["gen"]
        assert kg_table._read_swept_gen(p) == gen
        # an empty publish, exactly as the upsert would run it
        kg_table._invalidate_swept_gen(p)
        staging = os.path.join(p, ".upsert_tmp_empt")
        os.makedirs(staging)
        with open(os.path.join(staging, "_SUCCESS"), "w") as fh:
            fh.write("")
        kg_table._publish_staged_buckets(p, staging, "empt")
        assert kg_table._read_swept_gen(p) == gen     # re-stamped
        assert not os.path.isdir(staging)
        # and through the real API: an empty batch keeps it stamped
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, []), buckets=2)
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_stamp_orders_root_dirent_flush_before_create(
            self, tmp_path, monkeypatch):
        """r12 second-pass finding: the reclamation unlinks and the
        sidecar create live in the same directory; without a barrier a
        power loss could persist the stamp while losing the unlinks —
        a matching sidecar beside resurrected dirs, shielded forever.
        The stamp must fsync the directory BEFORE creating the file,
        and must NOT stamp when that fsync fails."""
        p = str(tmp_path / "t")
        os.makedirs(p)
        events = []
        real_fsync, real_open_ = os.fsync, os.open

        def spy_fsync(fd):
            events.append("dir_fsync")
            return real_fsync(fd)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.fsync",
                       spy_fsync)
            real_builtin_open = open

            def spy_open(f, *a, **kw):
                if str(f).endswith(kg_table._SWEPT_GEN) and a \
                        and "w" in str(a[0]):
                    events.append("stamp_create")
                return real_builtin_open(f, *a, **kw)

            mp.setattr("dig_etl_engine_spark.sinks.kg_table.open",
                       spy_open, raising=False)
            kg_table._stamp_swept_gen(p, 7)
        assert kg_table._read_swept_gen(p) == 7
        assert "dir_fsync" in events and "stamp_create" in events
        assert events.index("dir_fsync") < events.index("stamp_create")
        # failing dir fsync → no stamp (safe direction)
        kg_table._invalidate_swept_gen(p)

        def bad_fsync(fd):
            raise OSError(5, "io error")

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.fsync",
                       bad_fsync)
            kg_table._stamp_swept_gen(p, 8)
        assert kg_table._read_swept_gen(p) is None

    def test_undeletable_pointer_tmp_blocks_stamp(
            self, spark, tmp_path, monkeypatch):
        """r12 second-pass finding: sweep_pointer_tmps failures must
        fold into the clean verdict — an undeletable manifest tmp file
        stamped over would be shielded by the fast path forever."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        tmp = os.path.join(p, f".{kg_table._MANIFEST}.tmp.stuck")
        with open(tmp, "w") as fh:
            fh.write("{}")
        kg_table._invalidate_swept_gen(p)
        real_remove = os.remove

        def flaky_remove(path):
            if str(path) == tmp:
                raise PermissionError(13, "stuck", str(path))
            return real_remove(path)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.remove",
                       flaky_remove)
            kg_table._recover_partitioned_swap(p)
        assert os.path.exists(tmp)
        assert kg_table._read_swept_gen(p) is None    # NOT stamped
        kg_table._recover_partitioned_swap(p)         # healthy retry
        assert not os.path.exists(tmp)
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_guard_healed_on_fast_path(self, spark, tmp_path):
        """r12 second-pass finding: the guard file can be removed
        out-of-band; a read-mostly table may see no data commit for a
        long time, so the STEADY fast path must heal it too."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        guard = os.path.join(p, kg_table._NAIVE_READ_GUARD)
        assert os.path.exists(guard)
        os.remove(guard)
        m, steady = kg_table._recover_partitioned_swap(p)
        assert steady                                  # fast path...
        assert os.path.exists(guard)                   # ...healed it

    def test_swept_gen_fast_path_and_invalidation(self, spark,
                                                  tmp_path):
        """Steady state: the sidecar matches the manifest generation
        and entry recovery is a no-op (hand-planted litter is NOT
        swept — out of contract). Any crashed writer leaves the
        sidecar unlinked, and the next entry's full sweep reclaims."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        m = kg_table._load_manifest(p)
        assert kg_table._read_swept_gen(p) == m["gen"]
        orphan = os.path.join(p, ".kbe_0_orphantok")
        os.makedirs(orphan)
        kg_table._recover_partitioned_swap(p)   # fast path: skipped
        assert os.path.isdir(orphan)
        kg_table._invalidate_swept_gen(p)       # what a crash leaves
        kg_table._recover_partitioned_swap(p)   # full sweep
        assert not os.path.isdir(orphan)
        assert kg_table._read_swept_gen(p) == m["gen"]  # re-stamped
        # a torn/stale sidecar can only be a SMALLER number → never
        # masks a needed sweep
        with open(os.path.join(p, kg_table._SWEPT_GEN), "w") as fh:
            fh.write("0")
        os.makedirs(orphan)
        kg_table._recover_partitioned_swap(p)
        assert not os.path.isdir(orphan)

    def test_fsync_data_before_manifest_flip(self, tmp_path,
                                             monkeypatch):
        """The durability ORDER the manifest claims: every staged data
        file is fsynced before any epoch rename, and before the
        pointer flip — so a committed manifest can only name durable
        files (r11 external review, low). Pure filesystem."""
        t = os.path.join(str(tmp_path), "kgp")
        staging = os.path.join(t, ".upsert_tmp_tok")
        for kb in (0, 1):
            d = os.path.join(staging, f"_kb={kb}")
            os.makedirs(d)
            with open(os.path.join(d, "a.parquet"), "w") as fh:
                fh.write(f"new-{kb}")
        events = []
        real_fsync_tree = kg_table._fsync_tree
        real_rename, real_replace = os.rename, os.replace

        def spy_fsync_tree(root):
            events.append(("fsync_tree", os.path.basename(root)))
            return real_fsync_tree(root)

        def spy_rename(a, b):
            events.append(("rename", os.path.basename(a)))
            return real_rename(a, b)

        def spy_replace(a, b):
            events.append(("replace", os.path.basename(b)))
            return real_replace(a, b)

        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "_fsync_tree", spy_fsync_tree)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.rename",
                       spy_rename)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.replace",
                       spy_replace)
            kg_table._publish_staged_buckets(t, staging, "tok")
        kinds = [k for k, _ in events]
        assert kinds.count("fsync_tree") == 2          # both buckets
        last_fsync = max(i for i, k in enumerate(kinds)
                         if k == "fsync_tree")
        first_rename = min(i for i, k in enumerate(kinds)
                           if k == "rename")
        manifest_flip = next(i for i, (k, n) in enumerate(events)
                             if k == "replace"
                             and n == kg_table._MANIFEST)
        assert last_fsync < first_rename < manifest_flip
        # and the toggle really short-circuits the walk
        walked = []
        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "FSYNC_STAGED_DATA", False)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.walk",
                       lambda *a, **kw: walked.append(a) or [])
            kg_table._fsync_tree(t)
        assert walked == []

    def test_layout_report_classification(self, spark, tmp_path):
        rep = kg_table.layout_report(str(tmp_path / "absent"))
        assert rep["era"] == "absent" and rep["findings"]
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(12)]), buckets=2)
        rep = kg_table.layout_report(p)
        # a birth-partitioned table is all-hidden → mixed-layout
        # finding present, guard present, rebucket named
        assert rep["era"] == "manifest" and rep["live_hidden"] == 2
        assert rep["guard_present"]
        assert any("rebucket_partitioned" in f for f in rep["findings"])
        _demote_to_legacy_layout(p)
        rep = kg_table.layout_report(p)
        assert rep["era"] == "legacy" and rep["findings"] == []
        kg_table.rebucket_partitioned(spark, p, 2)
        rep = kg_table.layout_report(p)
        assert rep["era"] == "manifest" and rep["live_hidden"] == 0
        assert rep["findings"] == []


class TestEffectiveFilesView:
    """_effective_files: the READ-ONLY torn-directory resolver readers
    use instead of the writer-only mutating heal (pure function of the
    directory state — no Spark)."""

    def _mk(self, d, names):
        for n in names:
            os.makedirs(os.path.dirname(os.path.join(d, n)),
                        exist_ok=True)
            with open(os.path.join(d, n), "w") as fh:
                fh.write("x")

    def test_healthy_dir(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        self._mk(p, ["shard-00000.tar", "shard-00001.tar", "notes.txt"])
        got = _effective_files(p)
        assert [os.path.basename(f) for f in got] == [
            "shard-00000.tar", "shard-00001.tar"]

    def test_pre_marker_union_is_old_export(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        # crash mid-retire: shard 0 already in .old, shard 1 still live
        self._mk(p, ["shard-00001.tar", ".old/shard-00000.tar"])
        got = _effective_files(p)
        assert sorted(os.path.basename(f) for f in got) == [
            "shard-00000.tar", "shard-00001.tar"]
        assert any("/.old/" in f for f in got)
        # and nothing moved — the resolver is read-only
        assert os.path.exists(os.path.join(p, ".old/shard-00000.tar"))

    def test_post_marker_union_is_new_export(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        # crash mid-move-in: shard 0 moved in, shard 1 still staged;
        # the retired old copies must NOT appear
        self._mk(p, ["shard-00000.tar", ".old/_RETIRED",
                     ".old/shard-00000.tar", ".old/shard-00001.tar",
                     ".staging-42/shard-00001.tar"])
        got = _effective_files(p)
        assert sorted(os.path.basename(f) for f in got) == [
            "shard-00000.tar", "shard-00001.tar"]
        assert not any("/.old/" in f for f in got)
        # moved-in copy preferred on basename collision
        self._mk(p, [".staging-42/shard-00000.tar"])
        got = _effective_files(p)
        by_name = {os.path.basename(f): f for f in got}
        assert "/.staging-42/" not in by_name["shard-00000.tar"]
        assert "/.staging-42/" in by_name["shard-00001.tar"]

    def test_pattern_parameterized(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        self._mk(p, ["part-00000.avro", ".old/part-00001.avro",
                     "shard-00000.tar"])
        got = _effective_files(p, "part-*.avro")
        assert sorted(os.path.basename(f) for f in got) == [
            "part-00000.avro", "part-00001.avro"]


class TestOrderedOldDrop:
    """_drop_old deletes retired payload BEFORE the _RETIRED marker, so
    the two states a crash inside the final cleanup can leave are both
    classified safely (a plain rmtree could drop the marker first and a
    marker-less .old payload would be rolled back OVER the committed
    new export)."""

    def _populate(self, d, names):
        for n in names:
            os.makedirs(os.path.dirname(os.path.join(d, n)),
                        exist_ok=True)
            with open(os.path.join(d, n), "w") as fh:
                fh.write("x")

    def test_marker_only_old_is_forward_noop(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            _effective_files, _heal_export)
        p = str(tmp_path)
        # payload already deleted, marker survives → forward: new
        # export (live files) untouched by both reader and healer
        self._populate(p, ["shard-00000.tar", ".old/_RETIRED"])
        assert [os.path.basename(f) for f in _effective_files(p)] == \
            ["shard-00000.tar"]
        _heal_export(p)
        assert not os.path.isdir(os.path.join(p, ".old"))
        assert os.path.exists(os.path.join(p, "shard-00000.tar"))

    def test_empty_markerless_old_rolls_back_nothing(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            _effective_files, _heal_export)
        p = str(tmp_path)
        self._populate(p, ["shard-00000.tar"])
        os.makedirs(os.path.join(p, ".old"))
        assert [os.path.basename(f) for f in _effective_files(p)] == \
            ["shard-00000.tar"]
        _heal_export(p)
        assert not os.path.isdir(os.path.join(p, ".old"))
        assert os.path.exists(os.path.join(p, "shard-00000.tar"))

    def test_drop_old_removes_payload_then_marker(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _drop_old
        oldd = str(tmp_path / ".old")
        self._populate(str(tmp_path), [".old/shard-00000.tar",
                                       ".old/_RETIRED"])
        _drop_old(oldd, "shard-*.tar")
        assert not os.path.isdir(oldd)


class TestSwapCrashExhaustive:
    """Fault-injection sweep of the staged-export swap: crash at EVERY
    filesystem operation inside _swap_export, then assert (a) the
    read-only view (_effective_files) still resolves to exactly the old
    or exactly the new export — never a mix, never empty — and (b) a
    writer-side _heal_export lands the directory on a complete export
    with consistent content. Then re-inject faults into the heal itself
    and assert a second, clean heal still converges (heal is idempotent
    under its own crashes). Pure filesystem test — no Spark."""

    OLD = ["shard-00000.tar", "shard-00001.tar", "shard-00002.tar"]
    NEW = ["shard-00000.tar", "shard-00001.tar"]

    def _build(self, root):
        import shutil as _sh
        p = os.path.join(root, "exp")
        _sh.rmtree(p, ignore_errors=True)
        staging = os.path.join(p, ".staging-1")
        os.makedirs(staging)
        for n in self.OLD:
            with open(os.path.join(p, n), "w") as fh:
                fh.write(f"old-{n}")
        staged = []
        for n in self.NEW:
            sp = os.path.join(staging, n)
            with open(sp, "w") as fh:
                fh.write(f"new-{n}")
            staged.append(sp)
        return p, staged

    class _Crash(Exception):
        pass

    def _fault_at(self, monkeypatch, module, k):
        """Raise _Crash on the k-th mutating fs op issued by module —
        including the _RETIRED marker open() (which trips AFTER
        creating the file, modeling a torn/empty marker: the commit
        point exists but its write never finished) and shutil.rmtree
        (crash just before the teardown)."""
        import shutil as _sh
        count = {"n": 0}
        real_replace, real_remove = os.replace, os.remove
        real_makedirs, real_open = os.makedirs, open
        real_rmtree = _sh.rmtree

        def trip():
            count["n"] += 1
            if count["n"] == k:
                raise self._Crash()

        def fake_replace(a, b):
            trip()
            return real_replace(a, b)

        def fake_remove(a):
            trip()
            return real_remove(a)

        def fake_makedirs(a, **kw):
            trip()
            return real_makedirs(a, **kw)

        def fake_open(f, mode="r", *a, **kw):
            if "w" in str(mode):
                # create-the-file-then-crash: an empty marker must
                # still classify as committed (existence is the test)
                real_open(f, mode, *a, **kw).close()
                trip()
            return real_open(f, mode, *a, **kw)

        def fake_rmtree(p, **kw):
            trip()
            return real_rmtree(p, **kw)

        monkeypatch.setattr(module + ".os.replace", fake_replace,
                            raising=False)
        monkeypatch.setattr(module + ".os.remove", fake_remove,
                            raising=False)
        monkeypatch.setattr(module + ".os.makedirs", fake_makedirs,
                            raising=False)
        monkeypatch.setattr(module + ".open", fake_open, raising=False)
        monkeypatch.setattr(module + ".shutil.rmtree", fake_rmtree,
                            raising=False)
        return count

    def _contents(self, p, files):
        return {os.path.basename(f): open(f).read() for f in files}

    def _assert_complete(self, got):
        """got: {basename: content} — must be exactly the old export or
        exactly the new export, with matching content epoch."""
        old = {n: f"old-{n}" for n in self.OLD}
        new = {n: f"new-{n}" for n in self.NEW}
        assert got == old or got == new, got

    def test_crash_at_every_swap_op_recovers(self, tmp_path,
                                             monkeypatch):
        import importlib
        wd = importlib.import_module(
            "dig_etl_engine_spark.sinks.webdataset")
        k = 1
        completed_clean = False
        while not completed_clean and k < 60:
            p, staged = self._build(str(tmp_path))
            with monkeypatch.context() as mp:
                counter = self._fault_at(
                    mp, "dig_etl_engine_spark.sinks.webdataset", k)
                try:
                    wd._swap_export(p, "shard-*.tar", staged)
                    completed_clean = counter["n"] < k
                except self._Crash:
                    pass
            # (a) the read-only view resolves a complete export
            view = self._contents(p, wd._effective_files(p))
            self._assert_complete(view)
            # (b) writer-side heal converges to a complete directory
            wd._heal_export(p)
            assert not os.path.isdir(os.path.join(p, ".old"))
            live = self._contents(
                p, [os.path.join(p, f) for f in sorted(os.listdir(p))
                    if f.startswith("shard-")])
            self._assert_complete(live)
            k += 1
        assert completed_clean, "fault budget exhausted before clean run"

    def test_crash_inside_heal_then_heal_again(self, tmp_path,
                                               monkeypatch):
        import importlib
        wd = importlib.import_module(
            "dig_etl_engine_spark.sinks.webdataset")
        # for every swap crash point, also crash the FIRST heal at every
        # point; the second (clean) heal must still converge
        for swap_k in range(1, 30):
            p, staged = self._build(str(tmp_path))
            with monkeypatch.context() as mp:
                self._fault_at(
                    mp, "dig_etl_engine_spark.sinks.webdataset", swap_k)
                try:
                    wd._swap_export(p, "shard-*.tar", staged)
                except self._Crash:
                    pass
            for heal_k in range(1, 12):
                with monkeypatch.context() as mp:
                    self._fault_at(
                        mp, "dig_etl_engine_spark.sinks.webdataset",
                        heal_k)
                    try:
                        wd._heal_export(p)
                    except self._Crash:
                        pass
                # torn-or-healed: the read-only view must stay complete
                self._assert_complete(
                    self._contents(p, wd._effective_files(p)))
            wd._heal_export(p)  # clean pass
            assert not os.path.isdir(os.path.join(p, ".old"))
            live = self._contents(
                p, [os.path.join(p, f) for f in sorted(os.listdir(p))
                    if f.startswith("shard-")])
            self._assert_complete(live)


class TestKgTableCrashSafety:
    """Round-6 hardening of the KG upsert sinks: rename-aside swap for
    the plain upsert, per-bucket rename-aside for the partitioned merge
    (no dynamic-overwrite delete window), recovery sweeps, the
    bucketed-table guard, the already-compact skip, and glob-metachar
    paths."""

    def _batch(self, spark, ids, off=0):
        return spark.createDataFrame(
            [(i, f"text {i}", i + off) for i in ids],
            "doc_id LONG, text STRING, kafka_offset LONG")

    def test_plain_upsert_recovers_from_torn_swap(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import upsert
        t = str(tmp_path / "kg")
        upsert(spark, t, self._batch(spark, range(10)))
        # simulate the between-renames crash: table aside, no new copy
        os.rename(t, t + ".__old__")
        # plus an orphaned tmp dir from the dead write
        os.makedirs(t + ".__tmp__dead")
        upsert(spark, t, self._batch(spark, [100]))
        got = {r["doc_id"] for r in
               spark.read.parquet(t).collect()}
        assert got == set(range(10)) | {100}  # old rows NOT lost
        assert not os.path.isdir(t + ".__old__")
        assert not os.path.isdir(t + ".__tmp__dead")

    def test_plain_upsert_rejects_bucketed_table(self, spark, tmp_path):
        import pytest as _pytest
        from dig_etl_engine_spark.sinks.kg_table import (
            upsert, upsert_partitioned)
        t = str(tmp_path / "kgb")
        upsert_partitioned(spark, t, self._batch(spark, range(5)),
                           buckets=4)
        with _pytest.raises(ValueError, match="upsert_partitioned"):
            upsert(spark, t, self._batch(spark, [9]))

    def test_partitioned_upsert_recovers_torn_bucket_swap(self, spark,
                                                          tmp_path):
        """A PRE-MANIFEST table crashed between its old protocol's two
        swap renames (bucket aside, no live dir): the next upsert's
        legacy healing restores the bucket, then the table migrates to
        the manifest as part of that upsert's commit."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.kg_table import (
            _load_manifest, read_partitioned, upsert_partitioned)
        t = str(tmp_path / "kgp")
        upsert_partitioned(spark, t, self._batch(spark, range(20)),
                           buckets=4)
        _demote_to_legacy_layout(t)
        before = {(r["doc_id"], r["kafka_offset"]) for r in
                  read_partitioned(spark, t).collect()}
        # simulate a crash between the two renames of one bucket
        d = sorted(_glob.glob(os.path.join(t, "_kb=*")))[0]
        kbv = os.path.basename(d).split("=")[1]
        os.rename(d, os.path.join(t, f".upsert_old_{kbv}_deadbeef"))
        # plus a stale staging dir
        os.makedirs(os.path.join(t, ".upsert_tmp_deadbeef"))
        upsert_partitioned(spark, t, self._batch(spark, [500]),
                           buckets=4)
        after = {(r["doc_id"], r["kafka_offset"]) for r in
                 read_partitioned(spark, t).collect()}
        assert after == before | {(500, 500)}  # bucket restored, no loss
        assert not _glob.glob(os.path.join(t, ".upsert_old_*"))
        assert not _glob.glob(os.path.join(t, ".upsert_tmp_*"))
        assert _load_manifest(t) is not None  # migrated in place

    def test_partitioned_upsert_leaves_no_aside_dirs(self, spark,
                                                     tmp_path):
        import glob as _glob
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        t = str(tmp_path / "kgc")
        upsert_partitioned(spark, t, self._batch(spark, range(12)),
                           buckets=4)
        upsert_partitioned(spark, t, self._batch(spark, range(6), off=50),
                           buckets=4)
        rows = {r["doc_id"]: r["kafka_offset"] for r in
                read_partitioned(spark, t).collect()}
        assert len(rows) == 12
        for i in range(6):
            assert rows[i] == i + 50  # last write won
        assert not _glob.glob(os.path.join(t, ".upsert_*"))

    def test_compact_skips_already_compact_buckets(self, spark,
                                                   tmp_path):
        import glob as _glob
        import shutil as _sh
        from dig_etl_engine_spark.sinks.kg_table import (
            compact_partitioned, upsert_partitioned)
        from dig_etl_engine_spark.sinks.kg_table import _live_bucket_dirs
        t = str(tmp_path / "kgs")
        upsert_partitioned(spark, t, self._batch(spark, range(30)),
                           buckets=2)
        # fragment one bucket manually (an upsert REPLACES its touched
        # buckets, so fragmentation comes from many write tasks — here
        # we model it directly, inside the bucket's live epoch dir)
        live = _live_bucket_dirs(t)
        d0 = os.path.join(t, live[sorted(live)[0]])
        frag = d0 + "__frag"
        spark.read.parquet(d0).repartition(3).write.parquet(frag)
        _sh.rmtree(d0)
        os.rename(frag, d0)
        n1 = compact_partitioned(spark, t, min_files=2)
        assert n1 == 1  # only the fragmented bucket rewrites

        def _all_files():
            return sorted(
                f for d in _live_bucket_dirs(t).values()
                for f in _glob.glob(os.path.join(t, d, "*.parquet")))

        files_after = _all_files()
        # second run: already at target layout → nothing rewritten
        n2 = compact_partitioned(spark, t, min_files=2)
        assert n2 == 0
        assert _all_files() == files_after

    def test_glob_metachar_path_recovery_sweeps(self, tmp_path):
        """The finding this pins: recovery sweeps built their glob
        patterns from the table path verbatim, so '/data/kg[prod]'
        silently disabled crash recovery ([prod] parsed as a character
        class). Spark's own reads also glob paths, so metachar table
        paths aren't supported end-to-end — but the pure-Python
        recovery/sweep layer must not silently no-op."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_partitioned_swap, _recover_upsert)
        # plain upsert: torn swap under a metachar path restores
        t = str(tmp_path / "kg[prod]")
        os.makedirs(t + ".__old__")
        with open(t + ".__old__/x.parquet", "w") as fh:
            fh.write("x")
        os.makedirs(t + ".__tmp__dead")
        _recover_upsert(t)
        assert os.path.isdir(t)  # restored from .__old__
        assert not os.path.isdir(t + ".__tmp__dead")
        # partitioned: torn bucket swap under a metachar path restores
        t2 = str(tmp_path / "kgp[prod]")
        os.makedirs(os.path.join(t2, ".upsert_old_3_dead"))
        os.makedirs(os.path.join(t2, ".upsert_tmp_dead"))
        _recover_partitioned_swap(t2)
        assert os.path.isdir(os.path.join(t2, "_kb=3"))
        assert not os.path.isdir(os.path.join(t2, ".upsert_tmp_dead"))


class TestManifestRandomCrashReplay:
    """Randomized end-to-end torture of the manifest protocol: a seeded
    random walk of upserts and compactions, each optionally killed at a
    random filesystem op inside the COMMIT path (the Spark writes
    complete; the publish crashes), with the failed batch REPLAYED
    before the walk continues. Invariants after every step:

    * ``read_partitioned`` equals the relational expectation — the
      last-write-wins fold of every batch that REPORTED success plus
      the replayed ones (a crashed-then-replayed batch lands exactly
      once; a crashed compaction changes nothing);
    * the table never serves a mix of two states (prefix property —
      implied by checking exact equality at every step).

    Complements the exhaustive per-op fuzz (which proves each crash
    point recovers in isolation) by proving crash+replay COMPOSES
    across a history of mixed operations — closer to what a flaky
    production writer actually does. Seeded for reproducibility."""

    class _Crash(Exception):
        pass

    def _arm(self, monkeypatch, k):
        """Crash at the k-th commit-critical fs op inside kg_table
        (rename / replace / fsync — the staged moves, the pointer flip,
        and the durability barriers). rmtree is deliberately NOT
        faulted here: the per-op fuzz suite already covers sweep
        crashes at the fs level, and rmtree is also the table_lock
        RELEASE — crashing it would leave the lock held by this live
        pid and stall the walk's next operation on the lock timeout
        rather than exercising the protocol."""
        count = {"n": 0}
        mod = "dig_etl_engine_spark.sinks.kg_table"
        real = {"rename": os.rename, "replace": os.replace,
                "fsync": os.fsync}

        def wrap(name):
            def f(*a, **kw):
                count["n"] += 1
                if count["n"] == k and not self._after:
                    raise self._Crash()
                out = real[name](*a, **kw)
                if count["n"] == k and self._after:
                    # crash AFTER the op took effect: for the pointer
                    # replace this is "committed but the writer died
                    # before returning" — the replay must then be a
                    # pure no-op merge
                    raise self._Crash()
                return out
            return f

        monkeypatch.setattr(mod + ".os.rename", wrap("rename"),
                            raising=False)
        monkeypatch.setattr(mod + ".os.replace", wrap("replace"),
                            raising=False)
        monkeypatch.setattr(mod + ".os.fsync", wrap("fsync"),
                            raising=False)
        return count

    def test_random_crash_replay_walk(self, spark, tmp_path, monkeypatch):
        import random

        rng = random.Random(0xD16E)
        p = str(tmp_path / "kg")
        schema = "doc_id long, v string, kafka_offset long"
        expected: dict[int, tuple[str, int]] = {}

        def apply_batch(rows):
            for doc_id, v, off in rows:
                cur = expected.get(doc_id)
                if cur is None or off >= cur[1]:
                    expected[doc_id] = (v, off)

        def check(step):
            got = {r.doc_id: (r.v, r.kafka_offset) for r in
                   kg_table.read_partitioned(spark, p).collect()}
            assert got == expected, (
                f"step {step}: table diverged from the replayed "
                f"history (missing={set(expected) - set(got)}, "
                f"extra={set(got) - set(expected)})")

        # seed batch (never crashed, so the walk always has a table)
        rows = [(i, "seed", 0) for i in range(20)]
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(rows, schema), buckets=4)
        apply_batch(rows)
        check("seed")

        off = 1
        for step in range(12):
            op = rng.choice(["upsert", "upsert", "upsert", "compact"])
            crash_at = rng.choice([None, None] + list(range(1, 10)))
            self._after = rng.random() < 0.5  # crash before vs after op
            if op == "upsert":
                rows = [(rng.randrange(40), f"s{step}", off + i)
                        for i in range(rng.randrange(1, 5))]
                off += len(rows)
                batch = spark.createDataFrame(rows, schema)
                crashed = False
                if crash_at is not None:
                    with monkeypatch.context() as mp:
                        self._arm(mp, crash_at)
                        try:
                            kg_table.upsert_partitioned(
                                spark, p, batch, buckets=4)
                        except self._Crash:
                            crashed = True
                if crash_at is None or crashed:
                    # replay (or first run) without faults — must land
                    # the batch exactly once regardless of how far the
                    # crashed attempt got
                    kg_table.upsert_partitioned(
                        spark, p, batch, buckets=4)
                apply_batch(rows)
            else:
                crashed = False
                if crash_at is not None:
                    with monkeypatch.context() as mp:
                        self._arm(mp, crash_at)
                        try:
                            kg_table.compact_partitioned(
                                spark, p, min_files=2)
                        except self._Crash:
                            crashed = True
                if crash_at is None or crashed:
                    kg_table.compact_partitioned(spark, p, min_files=2)
                # compaction never changes expected state
            check(step)


class TestKgSwapCrashExhaustive:
    """Fault-injection sweep of the KG upsert swaps, mirroring
    TestSwapCrashExhaustive for the export sink: crash at EVERY mutating
    filesystem op inside _swap_upsert / _swap_upsert_buckets, run the
    entry-time recovery, and assert the table is a complete epoch —
    plain upsert: exactly the old or exactly the new table; partitioned:
    every bucket wholly pre-merge or wholly post-merge (per-bucket
    commit is the design — a rolled-back bucket's batch replays
    idempotently). Then crash the recovery itself at every op and assert
    a second, clean recovery still converges. Pure filesystem test — no
    Spark."""

    class _Crash(Exception):
        pass

    def _fault_at(self, monkeypatch, k):
        import shutil as _sh
        count = {"n": 0}
        real_rename, real_replace = os.rename, os.replace
        real_rmtree, real_makedirs = _sh.rmtree, os.makedirs
        mod = "dig_etl_engine_spark.sinks.kg_table"

        def trip():
            count["n"] += 1
            if count["n"] == k:
                raise self._Crash()

        def fake_rename(a, b):
            trip()
            return real_rename(a, b)

        def fake_replace(a, b):
            trip()
            return real_replace(a, b)

        def fake_rmtree(p, **kw):
            trip()
            return real_rmtree(p, **kw)

        def fake_makedirs(p, **kw):
            trip()
            return real_makedirs(p, **kw)

        real_fsync = os.fsync

        def fake_fsync(fd):
            trip()
            return real_fsync(fd)

        monkeypatch.setattr(mod + ".os.fsync", fake_fsync,
                            raising=False)
        monkeypatch.setattr(mod + ".os.rename", fake_rename,
                            raising=False)
        monkeypatch.setattr(mod + ".os.replace", fake_replace,
                            raising=False)
        monkeypatch.setattr(mod + ".shutil.rmtree", fake_rmtree,
                            raising=False)
        monkeypatch.setattr(mod + ".os.makedirs", fake_makedirs,
                            raising=False)
        return count

    # ---------------- plain upsert ----------------

    def _build_plain(self, root):
        import shutil as _sh
        t = os.path.join(root, "kg")
        for d in (t, t + ".__old__", t + ".__tmp__tok"):
            _sh.rmtree(d, ignore_errors=True)
        os.makedirs(t)
        with open(os.path.join(t, "a.parquet"), "w") as fh:
            fh.write("old")
        tmp = t + ".__tmp__tok"
        os.makedirs(tmp)
        with open(os.path.join(tmp, "a.parquet"), "w") as fh:
            fh.write("new")
        return t, tmp

    def _plain_epoch(self, t):
        assert os.path.isdir(t), "table vanished"
        with open(os.path.join(t, "a.parquet")) as fh:
            c = fh.read()
        assert c in ("old", "new"), c
        return c

    def test_plain_swap_crash_everywhere(self, tmp_path, monkeypatch):
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_upsert, _swap_upsert)
        k, completed_clean = 1, False
        while not completed_clean and k < 20:
            t, tmp = self._build_plain(str(tmp_path))
            with monkeypatch.context() as mp:
                counter = self._fault_at(mp, k)
                try:
                    _swap_upsert(t, tmp)
                    completed_clean = counter["n"] < k
                except self._Crash:
                    pass
            _recover_upsert(t)
            epoch = self._plain_epoch(t)
            # a leftover aside copy is legal ONLY once the new table
            # committed (the next upsert sweeps it); a torn swap must
            # have rolled back to the old epoch with no aside left
            if os.path.isdir(t + ".__old__"):
                assert epoch == "new"
            assert not glob.glob(t + ".__tmp__*")
            k += 1
        assert completed_clean, "fault budget exhausted before clean run"

    def test_plain_recovery_crash_then_recover(self, tmp_path,
                                               monkeypatch):
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_upsert, _swap_upsert)
        for swap_k in range(1, 8):
            t, tmp = self._build_plain(str(tmp_path))
            with monkeypatch.context() as mp:
                self._fault_at(mp, swap_k)
                try:
                    _swap_upsert(t, tmp)
                except self._Crash:
                    pass
            for heal_k in range(1, 6):
                with monkeypatch.context() as mp:
                    self._fault_at(mp, heal_k)
                    try:
                        _recover_upsert(t)
                    except self._Crash:
                        pass
            _recover_upsert(t)  # clean pass
            self._plain_epoch(t)
            assert not glob.glob(t + ".__tmp__*")

    # ---------------- partitioned upsert (manifest commit) ----------------

    BUCKETS = (0, 1, 2)
    TOUCHED = (0, 1)

    def _build_part(self, root):
        """A LEGACY table (_kb= dirs, no manifest yet — the migration
        case, which is also the richest: the commit must build the
        initial manifest AND publish the touched buckets in one flip)
        plus a fully-staged upsert batch touching buckets 0 and 1."""
        import shutil as _sh
        t = os.path.join(root, "kgp")
        _sh.rmtree(t, ignore_errors=True)
        os.makedirs(t)
        for kb in self.BUCKETS:
            d = os.path.join(t, f"_kb={kb}")
            os.makedirs(d)
            with open(os.path.join(d, "a.parquet"), "w") as fh:
                fh.write(f"old-{kb}")
        staging = os.path.join(t, ".upsert_tmp_tok")
        os.makedirs(staging)
        with open(os.path.join(staging, "_SUCCESS"), "w") as fh:
            fh.write("")
        for kb in self.TOUCHED:
            d = os.path.join(staging, f"_kb={kb}")
            os.makedirs(d)
            with open(os.path.join(d, "a.parquet"), "w") as fh:
                fh.write(f"new-{kb}")
        return t, staging

    def _assert_table_is_one_epoch(self, t):
        """The manifest-commit invariant, STRONGER than the old
        per-bucket one: the resolved view is exactly the pre-commit
        table or exactly the post-commit table — the touched buckets
        flip TOGETHER (one pointer replace), never a mix."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _effective_bucket_dirs)
        dirs = _effective_bucket_dirs(t)
        assert len(dirs) == len(self.BUCKETS), dirs
        content = {}
        for d in dirs:
            name = os.path.basename(d)
            kb = int(name.split("=", 1)[1].split(".")[0]) \
                if name.startswith("_kb=") else int(name.split("_")[1])
            with open(os.path.join(d, "a.parquet")) as fh:
                content[kb] = fh.read()
        for kb in self.BUCKETS:
            assert kb in content, (kb, dirs)
        assert content[2] == "old-2", content
        touched_states = {content[kb] == f"new-{kb}"
                          for kb in self.TOUCHED}
        assert len(touched_states) == 1, \
            f"torn commit: touched buckets in mixed epochs: {content}"
        return touched_states.pop()

    def test_partitioned_swap_crash_everywhere(self, tmp_path,
                                               monkeypatch):
        from dig_etl_engine_spark.sinks.kg_table import (
            _publish_staged_buckets, _recover_partitioned_swap)
        k, completed_clean = 1, False
        while not completed_clean and k < 30:
            t, staging = self._build_part(str(tmp_path))
            with monkeypatch.context() as mp:
                counter = self._fault_at(mp, k)
                try:
                    _publish_staged_buckets(t, staging, "tok")
                    completed_clean = counter["n"] < k
                except self._Crash:
                    pass
            _recover_partitioned_swap(t)
            committed = self._assert_table_is_one_epoch(t)
            if completed_clean:
                assert committed, "clean publish must land the batch"
            assert not glob.glob(os.path.join(t, ".upsert_*"))
            # recovery swept every unreferenced staged epoch
            from dig_etl_engine_spark.sinks.kg_table import (
                _load_manifest)
            m = _load_manifest(t)
            referenced = set() if m is None else \
                set(m["live"].values()) | {d for es in
                                           m["grace"].values()
                                           for d, _, _ in es}
            for leftover in glob.glob(os.path.join(t, ".kbe_*")):
                assert os.path.basename(leftover) in referenced, leftover
            k += 1
        assert completed_clean, "fault budget exhausted before clean run"

    def test_partitioned_recovery_crash_then_recover(self, tmp_path,
                                                     monkeypatch):
        from dig_etl_engine_spark.sinks.kg_table import (
            _publish_staged_buckets, _recover_partitioned_swap)
        for swap_k in range(1, 14):
            t, staging = self._build_part(str(tmp_path))
            with monkeypatch.context() as mp:
                self._fault_at(mp, swap_k)
                try:
                    _publish_staged_buckets(t, staging, "tok")
                except self._Crash:
                    pass
            for heal_k in range(1, 8):
                with monkeypatch.context() as mp:
                    self._fault_at(mp, heal_k)
                    try:
                        _recover_partitioned_swap(t)
                    except self._Crash:
                        pass
            _recover_partitioned_swap(t)  # clean pass
            self._assert_table_is_one_epoch(t)
            assert not glob.glob(os.path.join(t, ".upsert_*"))


class TestTableLock:
    """Advisory single-writer lock on the KG table: closes the same-host
    lost-update window (two concurrent upserts each read-then-swap; the
    second swap silently drops the first's batch) and the
    maintenance-vs-ingest overlap."""

    def test_contention_times_out(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        with table_lock(t):
            with pytest.raises(TableLockTimeout):
                with table_lock(t, timeout=0.6):
                    pass

    def test_release_allows_reacquire(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        with table_lock(t):
            pass
        with table_lock(t, timeout=0.6):
            pass
        assert not os.path.isdir(t + ".__lock__")

    def test_dead_owner_lock_is_broken(self, tmp_path):
        import subprocess
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)
        # a real, definitely-exited pid on this host
        proc = subprocess.run(["true"])  # noqa: S603,S607
        dead_pid = subprocess.Popen(["true"])  # noqa: S603,S607
        dead_pid.wait()
        import socket as _socket
        with open(os.path.join(lockd, "owner"), "w") as fh:
            fh.write(f"{dead_pid.pid} {_socket.gethostname()}")
        # age the lock past the 2 s dead-owner grace
        past = time.time() - 10
        os.utime(lockd, (past, past))
        with table_lock(t, timeout=5.0):
            pass  # acquired by breaking the dead owner's lock
        assert proc.returncode == 0

    def test_ttl_breaks_unknown_owner(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)  # no owner file: crashed before writing it
        past = time.time() - 7200
        os.utime(lockd, (past, past))
        with table_lock(t, timeout=5.0, stale_after=3600.0):
            pass
        assert not os.path.isdir(lockd)

    def test_live_foreign_owner_is_respected(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)
        with open(os.path.join(lockd, "owner"), "w") as fh:
            fh.write("12345 some-other-host")  # cannot probe remote pids
        past = time.time() - 600  # old, but under the 1 h TTL
        os.utime(lockd, (past, past))
        with pytest.raises(TableLockTimeout):
            with table_lock(t, timeout=0.6):
                pass

    def test_concurrent_upserts_lose_no_batch(self, spark, tmp_path):
        """The lost-update scenario itself: two threads upsert disjoint
        batches into the same table concurrently; without the lock the
        later swap drops the earlier batch, with it both land."""
        import threading
        from dig_etl_engine_spark.sinks.kg_table import upsert
        t = str(tmp_path / "kg")
        upsert(spark, t, spark.createDataFrame(
            [(0, "seed", 0)],
            "doc_id LONG, text STRING, kafka_offset LONG"))
        errs = []

        def run(lo):
            try:
                upsert(spark, t, spark.createDataFrame(
                    [(i, f"t{i}", i) for i in range(lo, lo + 20)],
                    "doc_id LONG, text STRING, kafka_offset LONG"))
            except Exception as ex:  # noqa: BLE001
                errs.append(ex)

        th = [threading.Thread(target=run, args=(lo,))
              for lo in (100, 200)]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert not errs, errs
        got = {r["doc_id"] for r in spark.read.parquet(t).collect()}
        assert got == {0} | set(range(100, 120)) | set(range(200, 220))

    def test_heartbeat_prevents_ttl_theft_from_live_owner(self, tmp_path):
        """A live owner heartbeats the lock mtime, so a contender that
        out-waits stale_after must still time out rather than steal the
        lock mid-write (a multi-hour compaction must not lose its lock
        to a TTL set for crash recovery)."""
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        with table_lock(t, stale_after=0.8):  # heartbeat every 0.2 s
            time.sleep(1.6)  # mtime is now refreshed, never >0.8 s old
            with pytest.raises(TableLockTimeout):
                with table_lock(t, timeout=1.2, stale_after=0.8):
                    pass
        # released cleanly afterwards: reacquire works
        with table_lock(t, timeout=1.0):
            pass

    def test_release_spares_a_stolen_lock(self, tmp_path):
        """If the lock was broken while held (frozen owner out-waited by
        the TTL), release must NOT delete the new owner's lock — blind
        removal would admit a third writer alongside the second."""
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        with table_lock(t):
            # simulate a steal: a new owner now records its identity
            with open(os.path.join(lockd, "owner"), "w") as fh:
                fh.write("99999 thief-host")
        assert os.path.isdir(lockd)  # the thief's lock survived release
        with open(os.path.join(lockd, "owner")) as fh:
            assert fh.read() == "99999 thief-host"

    def test_cross_process_mutual_exclusion(self, tmp_path):
        """The lock's actual design target is cross-PROCESS exclusion
        (separate drivers, one warehouse): N subprocesses hammer a
        non-atomic read-modify-write on a shared counter file under the
        lock; any mutual-exclusion failure loses increments."""
        import subprocess
        import sys
        t = str(tmp_path / "kg")
        counter = str(tmp_path / "counter")
        with open(counter, "w") as fh:
            fh.write("0")
        worker = (
            "import sys, time\n"
            "sys.path.insert(0, %r)\n"
            "from dig_etl_engine_spark.sinks.kg_table import table_lock\n"
            "for _ in range(10):\n"
            "    with table_lock(%r, timeout=60.0):\n"
            "        n = int(open(%r).read())\n"
            "        time.sleep(0.002)\n"
            "        open(%r, 'w').write(str(n + 1))\n"
        ) % (os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), t, counter, counter)
        procs = [subprocess.Popen([sys.executable, "-c", worker])
                 for _ in range(3)]
        for pr in procs:
            assert pr.wait(timeout=120) == 0
        assert open(counter).read() == "30"  # no lost increment
        assert not os.path.isdir(t + ".__lock__")


class TestManifestReaderDuringSwap:
    """The manifest-commit contract, observed from a concurrent reader
    (verdict r10 item 2): a loop of lock-free ``read_partitioned`` calls
    across N upserts and a compaction must see (a) ZERO errors — data
    dirs never move after publication and superseded dirs survive as
    grace copies until the next writer entry — and (b) only COMMITTED
    states: every observed snapshot is exactly the table after some
    prefix of the upserts, never a mix of two (each upsert touches
    multiple buckets, and they flip together in one pointer replace —
    the old per-bucket rename swap could expose bucket A post-batch
    beside bucket B pre-batch)."""

    def test_reader_sees_only_committed_states(self, spark, tmp_path):
        import threading

        from dig_etl_engine_spark.sinks.kg_table import (
            compact_partitioned, read_partitioned, upsert_partitioned)

        p = str(tmp_path / "kg")
        schema = "doc_id long, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(24)], schema)
        upsert_partitioned(spark, p, base, buckets=4)

        # precompute the committed-state chain: after batch k, key 0 is
        # rewritten to v=f"u{k}" and key 100+k exists — the two keys
        # land in different buckets, so a torn multi-bucket commit
        # WOULD be observable as a mixed snapshot
        states = []
        cur = {i: "base" for i in range(24)}
        states.append(dict(cur))
        batches = []
        for k in range(1, 6):
            cur[0] = f"u{k}"
            cur[100 + k] = "new"
            states.append(dict(cur))
            batches.append(spark.createDataFrame(
                [(0, f"u{k}", k), (100 + k, "new", k)], schema))
        allowed = [frozenset(s.items()) for s in states]

        errors: list[BaseException] = []
        observed: list[frozenset] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    snap = frozenset(
                        (r["doc_id"], r["v"]) for r in
                        read_partitioned(spark, p).collect())
                    observed.append(snap)
                except BaseException as e:  # noqa: BLE001 — "no error" IS the assertion
                    errors.append(e)
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        try:
            for b in batches:
                upsert_partitioned(spark, p, b, buckets=4)
            compact_partitioned(spark, p, min_files=2)
        finally:
            stop.set()
            t.join(timeout=120)
        assert not errors, \
            f"reader saw an error during swaps: {errors[0]!r}"
        assert len(observed) >= 3
        bad = [dict(o) for o in observed if o not in allowed]
        assert not bad, f"uncommitted/mixed state observed: {bad[:2]}"
        # the final read sees the fully-applied chain
        final = frozenset(
            (r["doc_id"], r["v"]) for r in
            read_partitioned(spark, p).collect())
        assert final == allowed[-1]


class TestReadPartitionedTornView:
    """read_partitioned on a LEGACY (pre-manifest) table during that
    protocol's concurrent swap: every bucket resolves to exactly one
    complete epoch — live dir when present, the swap's aside copy during
    the instant between its two renames — and a table mid-rebucket reads
    from its .rebucket_old copy. Manifest-era tables need none of this
    aside resolution (one atomic pointer read yields the complete live
    set — covered by TestManifestReaderDuringSwap); these tests pin the
    legacy fallback that keeps never-migrated tables readable."""

    def _table(self, spark, tmp_path, name="kgt", legacy=False):
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        t = str(tmp_path / name)
        upsert_partitioned(spark, t, spark.createDataFrame(
            [(i, f"text {i}", i) for i in range(40)],
            "doc_id LONG, text STRING, kafka_offset LONG"), buckets=4)
        if legacy:
            _demote_to_legacy_layout(t)
        rows = {(r["doc_id"], r["kafka_offset"]) for r in
                read_partitioned(spark, t).collect()}
        assert len(rows) == 40
        return t, rows

    def _first_bucket(self, t):
        import glob as _glob
        return sorted(_glob.glob(os.path.join(t, "_kb=*")))[0]

    def test_upsert_swap_window_reads_aside(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        t, rows = self._table(spark, tmp_path, legacy=True)
        d = self._first_bucket(t)
        kbv = os.path.basename(d).split("=")[1]
        os.rename(d, os.path.join(t, f".upsert_old_{kbv}_tok"))
        got = {(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()}
        assert got == rows  # the aside copy fills the gap
        # live dir present again: it wins over a stale aside
        os.rename(os.path.join(t, f".upsert_old_{kbv}_tok"), d)

    def test_compact_swap_window_reads_aside(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        t, rows = self._table(spark, tmp_path, "kgc", legacy=True)
        d = self._first_bucket(t)
        kbv = os.path.basename(d).split("=")[1]
        os.rename(d, os.path.join(t, f".compact_old_{kbv}_tok"))
        got = {(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()}
        assert got == rows

    def test_live_bucket_wins_over_aside(self, spark, tmp_path):
        """Post-swap instant (new live dir in, aside not yet dropped):
        the live epoch must win, not duplicate."""
        import shutil as _sh
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        t, rows = self._table(spark, tmp_path, "kgw", legacy=True)
        d = self._first_bucket(t)
        kbv = os.path.basename(d).split("=")[1]
        _sh.copytree(d, os.path.join(t, f".upsert_old_{kbv}_tok"))
        got = [(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()]
        assert sorted(got) == sorted(rows)  # no duplicated bucket

    def test_mid_rebucket_reads_retired_copy(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        t, rows = self._table(spark, tmp_path, "kgr")
        os.rename(t, t + ".rebucket_old")
        got = {(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()}
        assert got == rows

    def test_mid_plain_upsert_swap_reads_retired_copy(self, spark,
                                                      tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert)
        t = str(tmp_path / "kgpl")
        upsert(spark, t, spark.createDataFrame(
            [(i, f"t{i}", i) for i in range(10)],
            "doc_id LONG, text STRING, kafka_offset LONG"))
        os.rename(t, t + ".__old__")  # between the swap's two renames
        got = {r["doc_id"] for r in read_partitioned(spark, t).collect()}
        assert got == set(range(10))
