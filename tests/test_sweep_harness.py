"""The verification harness itself must fail loudly (ADVICE r7): a sweep
that silently skips queries or registers empty oracle views would attest
green without testing anything.  No SparkSession needed here — these pin
the pure guard logic plus the DuckDB view registration."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from oracle_sweep import parse_state, state_header, unknown_names  # noqa: E402

from tests.oracle import run_oracle  # noqa: E402

SF001 = "/root/testdata/sf0.001"


class TestStateFileGuards:
    def test_matching_header_returns_done_names(self):
        text = "#sfdir=/data/sf1\nq_a\nq_b\n"
        assert parse_state(text, "#sfdir=/data/sf1") == {"q_a", "q_b"}

    def test_headerless_state_is_refused(self):
        # a hand-made or truncated file could belong to ANY scale — the
        # silently-skip-everything fabricated-green resume
        with pytest.raises(ValueError, match="no '#sfdir=' header"):
            parse_state("q_a\nq_b\n", "#sfdir=/data/sf1")

    def test_cross_dataset_resume_is_refused(self):
        with pytest.raises(ValueError, match="belongs to"):
            parse_state("#sfdir=/data/sf0.1\nq_a\n", "#sfdir=/data/sf1")

    def test_resynthesized_dataset_invalidates_old_state(self, tmp_path):
        # same path, new _DONE synth version -> different header ->
        # refused (results were produced against the OLD dataset)
        sf = tmp_path / "sf1"
        sf.mkdir()
        (sf / "_DONE").write_text("synthesized: v1")
        old_header = state_header(str(sf))
        (sf / "_DONE").write_text("synthesized: v2")
        with pytest.raises(ValueError, match="belongs to"):
            parse_state(f"{old_header}\nq_a\n", state_header(str(sf)))

    def test_whitespace_in_sfdir_path_survives_roundtrip(self, tmp_path):
        sf = tmp_path / "with space"
        sf.mkdir()
        h = state_header(str(sf))
        assert parse_state(f"{h}\nq_a\n", h) == {"q_a"}


class TestOnlyNameGuard:
    KNOWN = {"q_a": "SELECT 1", "q_b": "SELECT 2"}

    def test_registered_names_pass(self):
        assert unknown_names(["q_b", "q_a"], self.KNOWN) == []

    def test_no_subset_means_nothing_to_refuse(self):
        assert unknown_names(None, self.KNOWN) == []

    def test_comma_list_and_typo_are_reported_in_order(self):
        # "q_a,q_b" is one argv word: it used to sweep as one red query
        got = unknown_names(["q_a,q_b", "q_a", "q_c"], self.KNOWN)
        assert got == ["q_a,q_b", "q_c"]


class TestSweepToolsRefuseUnknownNames:
    """The determinism and row-order sweeps refuse an unregistered
    ``--only`` name (a typo, a comma list) before any SparkSession is
    built, as oracle_sweep.py does, instead of sweeping it as a red
    FAIL line."""

    def _run(self, monkeypatch, capsys, tool, *extra):
        import streaming_amqp_spark.session as session

        built = []

        def get_spark(*args, **kwargs):
            built.append(args)
            raise AssertionError("a SparkSession was built")

        monkeypatch.setattr(session, "get_spark", get_spark)
        argv = [tool.__file__, "--only", "q1_pricing_summary,bogus", *extra]
        monkeypatch.setattr(sys, "argv", argv)
        assert tool.main() == 1
        assert "REFUSED: unknown query names ['q1_pricing_summary,bogus']" in (
            capsys.readouterr().out
        )
        assert built == []

    def test_determinism_sweep(self, monkeypatch, capsys):
        import determinism_sweep

        self._run(monkeypatch, capsys, determinism_sweep)

    def test_roworder_sweep(self, monkeypatch, capsys, tmp_path):
        import roworder_sweep

        self._run(monkeypatch, capsys, roworder_sweep, "--base", str(tmp_path))
        assert os.listdir(tmp_path) == []  # no permuted twin synthesized


class TestCapturePlansRefusesToOverwrite:
    """tools/capture_plans.py never overwrites a capture: code comments
    cite the plans/r16 files, so a name whose ``<name>_<tag>.txt``
    exists is refused before any SparkSession is built."""

    def test_existing_capture_is_refused(self, monkeypatch, capsys):
        import capture_plans

        path = os.path.join(
            os.path.dirname(__file__), "..", "plans", "r16", "ann_ivf_topk_before.txt"
        )
        mtime = os.path.getmtime(path)
        built = []

        def get_spark(*args, **kwargs):
            built.append(args)
            raise AssertionError("a SparkSession was built")

        monkeypatch.setattr(capture_plans, "get_spark", get_spark)
        argv = [capture_plans.__file__, "before", "knn_cosine_topk", "ann_ivf_topk"]
        monkeypatch.setattr(sys, "argv", argv)
        assert capture_plans.main() == 1
        out = capsys.readouterr().out
        assert "REFUSED:" in out and "ann_ivf_topk_before.txt" in out
        assert "knn_cosine_topk_before.txt" in out
        assert built == []
        assert os.path.getmtime(path) == mtime


class TestOracleViewRegistration:
    def _sf_copy(self, tmp_path) -> str:
        d = tmp_path / "sf"
        d.mkdir()
        for f in os.listdir(SF001):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(SF001, f), d / f)
        return str(d)

    def test_directory_tables_glob_recursively(self, tmp_path):
        # Spark partitioned writes nest part files under key=val subdirs;
        # a top-level-only glob would register a partial view.  The
        # partition KEY lives in the directory name, not in the part
        # files — the view must surface it as a column with per-subdir
        # values (ADVICE r8: a row-count-only check couldn't see a view
        # that silently dropped the key column).
        sf = self._sf_copy(tmp_path)
        tbl = os.path.join(sf, "region.parquet")
        src = os.readlink(tbl)
        os.unlink(tbl)
        for k in (0, 1):
            os.makedirs(os.path.join(tbl, f"k={k}"))
            shutil.copy(src, os.path.join(tbl, f"k={k}", "part-0.parquet"))
        cols, rows = run_oracle(
            "SELECT k, count(*) AS n FROM region GROUP BY k ORDER BY k", sf
        )
        assert cols == ["k", "n"]
        assert [(int(k), n) for k, n in rows] == [(0, 5), (1, 5)]

    def test_flat_directory_tables_have_no_phantom_columns(self, tmp_path):
        # bench's synthesized sets are UNpartitioned directories of part
        # files — hive_partitioning must stay off there so no phantom
        # key column appears and schemas keep matching Spark's
        sf = self._sf_copy(tmp_path)
        tbl = os.path.join(sf, "region.parquet")
        src = os.readlink(tbl)
        os.unlink(tbl)
        os.makedirs(tbl)
        shutil.copy(src, os.path.join(tbl, "part-0.parquet"))
        cols, rows = run_oracle("SELECT * FROM region", sf)
        assert cols == ["r_regionkey", "r_name"]  # no phantom 'k' etc.
        assert len(rows) == 5

    def test_empty_directory_table_raises_not_empty_view(self, tmp_path):
        sf = self._sf_copy(tmp_path)
        tbl = os.path.join(sf, "region.parquet")
        os.unlink(tbl)
        os.makedirs(tbl)  # directory exists, zero part files
        with pytest.raises(FileNotFoundError, match="no part files"):
            run_oracle("SELECT 1", sf)


class TestDegenerateSweepHarness:
    """tools/degenerate_sweep.py guard + synthesizer pins (no Spark):
    the degenerate matrix only attests something if the corpora carry
    the shapes the campaign defined and a stale resume file is refused."""

    def test_expected_residues_cover_exactly_the_corpora(self):
        from degenerate_sweep import EXPECTED_RESIDUES, SYNTH

        assert set(EXPECTED_RESIDUES) == set(SYNTH)

    def test_synth_empty_zero_rows_production_schemas(self, tmp_path):
        import pyarrow.parquet as pq

        from degenerate_sweep import synth_empty

        synth_empty(SF001, str(tmp_path))
        for f in os.listdir(SF001):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(str(tmp_path / f))
            assert t.num_rows == 0
            assert t.schema.names == pq.read_schema(
                os.path.join(SF001, f)
            ).names

    def test_synth_constant_replicates_with_unique_pks(self, tmp_path):
        import pyarrow.parquet as pq

        from degenerate_sweep import _FACT_PK, REPLICAS, synth_constant

        synth_constant(SF001, str(tmp_path))
        for name, pk in _FACT_PK.items():
            t = pq.read_table(str(tmp_path / f"{name}.parquet"))
            assert t.num_rows == REPLICAS
            keys = t.column(pk).to_pylist()
            assert len(set(keys)) == REPLICAS  # remapped, unique
            # every NON-key column is one constant value (or NULL)
            for col in t.schema.names:
                if col == pk:
                    continue
                vals = t.column(col).to_pylist()
                first = vals[0]
                assert all(v == first for v in vals), (name, col)
        # dimension tables untouched
        dims = pq.read_table(str(tmp_path / "region.parquet"))
        assert dims.num_rows == pq.read_table(
            os.path.join(SF001, "region.parquet")
        ).num_rows

    def test_ensure_corpus_rebuilds_on_version_change(self, tmp_path):
        import degenerate_sweep as ds

        base = str(tmp_path)
        d1 = ds.ensure_corpus("empty", SF001, base)
        marker = os.path.join(d1, "_DONE")
        assert os.path.exists(marker)
        # stale marker (old synth version) must force a rebuild
        with open(marker, "w") as fh:
            fh.write("deg-v0|src=" + SF001)
        stale_stat = os.stat(marker).st_mtime_ns
        d2 = ds.ensure_corpus("empty", SF001, base)
        assert d2 == d1
        assert open(marker).read().startswith(ds._SYNTH_VERSION)
        assert os.stat(marker).st_mtime_ns != stale_stat

    def test_synth_unicode_carries_each_encoding_class(self, tmp_path):
        import unicodedata

        import pyarrow.parquet as pq

        from degenerate_sweep import _UNICODE_TEXTS, synth_unicode

        synth_unicode(SF001, str(tmp_path))
        t = pq.read_table(str(tmp_path / "documents.parquet"))
        assert t.schema.names == pq.read_schema(
            os.path.join(SF001, "documents.parquet")
        ).names
        texts = t.column("text").to_pylist()[: len(_UNICODE_TEXTS)]
        assert texts == _UNICODE_TEXTS  # survived the parquet round-trip
        joined = "".join(texts)
        # each encoding-edge class the corpus exists for is present:
        # NFC≠NFD pair, NBSP-class whitespace, zero-width/format
        # controls, astral plane, combining-mark-leading, RTL, raw
        # control chars, replacement char
        nfc_row = texts[0]
        assert unicodedata.normalize("NFC", nfc_row) != nfc_row  # NFD half
        assert " " in joined and "　" in joined
        assert {"​", "‌", "‍", "﻿"} <= set(joined)
        assert any(ord(c) > 0xFFFF for c in joined)  # astral
        assert unicodedata.combining(texts[8][0])  # leading combining
        assert any("֐" <= c <= "ۿ" for c in joined)  # RTL
        assert "\x01" in joined and "�" in joined
