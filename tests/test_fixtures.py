"""The one fixture writer (``datagen.write_parquet_fixture``): an interrupted
write leaves nothing behind, so the next call writes the full table instead
of returning a truncated file.  Spark-free."""

import os

import pyarrow.parquet as pq
import pytest

from feathr_online_spark import datagen
from feathr_online_spark.operators.pii import write_pii_fixture
from feathr_online_spark.operators.text import _LANG_SAMPLES, write_lang_fixture

_N_LANG = sum(len(v) for v in _LANG_SAMPLES.values())


def _write_lang(d):
    return write_lang_fixture(os.path.join(d, "lang.parquet")), _N_LANG


def _write_pii(d):
    return write_pii_fixture(os.path.join(d, "pii.parquet"), n=240), 240


def _write_sequences(d):
    return datagen.write_fixture(d, n_seq=1000)["sequences"], 1000


@pytest.mark.parametrize("write", [_write_lang, _write_pii, _write_sequences])
def test_interrupted_write_leaves_no_file(tmp_path, monkeypatch, write):
    def interrupt(self, table, row_group_size=None):
        raise KeyboardInterrupt

    out_dir = str(tmp_path / "fx")
    with monkeypatch.context() as m:
        m.setattr(pq.ParquetWriter, "write_table", interrupt)
        with pytest.raises(KeyboardInterrupt):
            write(out_dir)
    assert os.listdir(out_dir) == []
    path, n = write(out_dir)
    assert pq.read_table(path).num_rows == n
    assert not [f for f in os.listdir(out_dir) if f.startswith(".")]


def test_write_fixture_chunk_equals_single_shot(tmp_path):
    paths = datagen.write_fixture(str(tmp_path), n_seq=1000)
    assert pq.read_table(paths["sequences"]).equals(datagen.gen_sequences(1000))
    assert pq.read_table(paths["features"]).equals(datagen.gen_features(500, 40))
