"""ARPA-layout export / re-ingest of the pruned KN model — landed-file
shape, sortedness, atomicity, and exact state round trip (the score
equality itself is oracle-gated in `kn_arpa_roundtrip`)."""

from __future__ import annotations

import glob
import os

import pytest

from azure_medicine_data_engineering_spark.operators.arpa import (
    ARPA_LEVEL_STATS,
    export_kn_pruned_arpa,
    kn_arpa_rescore,
    kn_pruned_level_tables,
    parse_arpa_pruned,
)

_DOCS = [
    (i, "en" if i % 2 == 0 else "de",
     "the quick brown fox jumps over the lazy dog again and "
     * (2 + i % 3) + f"tail{i % 4}")
    for i in range(12)
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, ["doc_id", "source", "text"])


@pytest.fixture(scope="module")
def exported(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("arpa"))
    export_kn_pruned_arpa(docs, root, min_count=2, shards_per_level=3)
    return root


def test_landed_files_sorted_atomic_with_header(exported):
    assert not glob.glob(f"{exported}/*.tmp")
    header = os.path.join(exported, "model.arpa")
    lines = open(header, encoding="utf-8").read().splitlines()
    assert lines[0] == "\\data\\" and lines[-1] == "\\end\\"
    counts = {
        int(ln.split()[1].split("=")[0]): int(ln.split("=")[1])
        for ln in lines
        if ln.startswith("ngram ")
    }
    assert set(counts) == {1, 2, 3, 4, 5}
    nalp = [int(ln.split()[1]) for ln in lines if ln.startswith("nalp ")]
    assert len(nalp) == 1 and nalp[0] > 0
    for lvl in range(1, 6):
        shards = sorted(glob.glob(f"{exported}/{lvl}gram-*.txt"))
        assert shards, f"level {lvl} landed no shards"
        rows = []
        for sh in shards:
            chunk = [
                ln.split("\t")[0].split(" ")
                for ln in open(sh, encoding="utf-8").read().splitlines()
            ]
            assert chunk == sorted(chunk)  # sorted within shard
            rows.extend(chunk)
        # pid-ordered concatenation IS the sorted section
        assert rows == sorted(rows)
        assert len(rows) == counts[lvl]  # header counts are exact
        assert all(len(w) == lvl for w in rows)


def test_parse_reproduces_level_tables_exactly(spark, docs, exported):
    levels, nalp = parse_arpa_pruned(spark, exported)
    direct, nalp_df = kn_pruned_level_tables(docs, min_count=2)
    assert nalp == nalp_df.collect()[0]["nalp"]
    for lvl, stats in ARPA_LEVEL_STATS.items():
        keys = [f"w{i}" for i in range(1, lvl + 1)]
        got = sorted(map(tuple, levels[lvl].select(*keys, *stats).collect()))
        want = sorted(map(tuple, direct[lvl].select(*keys, *stats).collect()))
        assert got == want, f"level {lvl} state drifted through the wire"


def test_rescore_matches_in_memory_pruned_model(spark, docs, exported):
    """Naive-independence pin: the re-ingested score equals the round-14
    operator's nll_pruned (computed through a COMPLETELY different join
    plan) on the exact micro grid."""
    from azure_medicine_data_engineering_spark.operators.text_rank import (
        kn_5gram_pruned_delta_by_group,
    )

    levels, nalp = parse_arpa_pruned(spark, exported)
    got = {
        r["g"]: r.asDict()
        for r in kn_arpa_rescore(docs, levels, nalp).collect()
    }
    want = {
        r["g"]: r.asDict()
        for r in kn_5gram_pruned_delta_by_group(docs, min_count=2).collect()
    }
    assert set(got) == set(want)
    for g in want:
        for col in ("n_docs", "n_5grams", "nll_pruned"):
            assert got[g][col] == want[g][col], (g, col)


def test_write_section_rejects_null_stat(spark, tmp_path):
    """A NULL stat fails the section write instead of landing as "nan"
    (or "1.0" once Arrow widens the column to float64)."""
    from azure_medicine_data_engineering_spark.operators.arpa import _write_section

    level = spark.createDataFrame(
        [("a", 1, 2, 3), ("b", None, 2, 3)],
        "w1 string, n1ep long, w2p long, l2p long",
    )
    with pytest.raises(Exception, match="non-finite"):
        _write_section(level, 1, str(tmp_path), 1).collect()
    assert not glob.glob(os.path.join(str(tmp_path), "1gram-*.txt"))
