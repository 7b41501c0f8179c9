"""NYSIIS encoder: scan-spec vs regex-chain parity (the chain is what
ships in BOTH engines), derived vectors, strict truncation, and the
pyspark Column rendering against the python chain."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lucene_solr_spark.functions.phonetic import (
    nysiis_chain_py,
    nysiis_col,
    nysiis_py,
)

# vectors derived by hand-executing the published algorithm (Taft 1970
# steps as implemented by commons-codec Nysiis; see module docstring)
VECTORS = [
    ("knight", "NAGT"),
    ("dwight", "DWAGT"),
    ("macintosh", "MCANT"),
    ("schmidt", "SNAD"),
    ("evans", "EVAN"),
    ("levi", "LAF"),
    ("aaron", "ARAN"),
    ("odette", "ODAT"),
    ("mays", "MY"),          # S-trim exposes AY -> Y
    ("phillipson", "FALAPS"),  # strict 6-char truncation
    ("pfister", "FASTAR"),
    ("s", "S"),              # len-1 guards on the trailing trims
    ("a", "A"),
    ("", ""),
]


@pytest.mark.parametrize("word,want", VECTORS)
def test_vectors_scan(word, want):
    assert nysiis_py(word) == want


@pytest.mark.parametrize("word,want", VECTORS)
def test_vectors_chain(word, want):
    assert nysiis_chain_py(word) == want


def test_strict_vs_full_length():
    assert nysiis_py("phillipson", strict=False) == "FALAPSAN"
    assert nysiis_py("phillipson", strict=True) == "FALAPS"
    assert nysiis_chain_py("phillipson", strict=False) == "FALAPSAN"


def test_non_letters_stripped():
    assert nysiis_py("O'Brien-42") == nysiis_py("obrien")
    assert nysiis_chain_py("O'Brien-42") == nysiis_chain_py("obrien")


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12))
def test_chain_matches_scan(word):
    assert nysiis_chain_py(word) == nysiis_py(word)


@settings(max_examples=300, deadline=None)
# h/w-heavy alphabet stresses the prev-copy runs
@given(st.text(alphabet="ahwbkmsc", min_size=1, max_size=10))
@example("aschch")  # SCH overwrites read as the next SCH's S
@example("whhhhh")  # an H run longer than a fixed rule iteration count
def test_chain_matches_scan_hw_stress(word):
    assert nysiis_chain_py(word) == nysiis_py(word)


def test_column_matches_python_chain(spark):
    import pyspark.sql.functions as F

    words = [w for w, _ in VECTORS if w] + ["window", "crashhh", "aww", "ahha"]
    df = spark.createDataFrame([(w,) for w in words], ["term"])
    got = {
        r["term"]: r["code"]
        for r in df.select("term", nysiis_col("term").alias("code")).collect()
    }
    assert got == {w: nysiis_chain_py(w) for w in words}
