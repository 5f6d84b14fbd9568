"""Compat layer vs the reference's documented behavior, on reference-shaped
literal rows (sample-data.csv shapes — including its quirks)."""

from __future__ import annotations

import pytest

from bookstore_aws_lakehouse_spark.compat import Extractor, Loader, Transformer

RAW_COLUMNS = [
    "Customer-ID", "ISBN", "Book-Rating", "Location", "Age",
    "Book-Title", "Book-Author", "Year-Of-Publication", "Publisher",
    "Image-URL-S", "Image-URL-M", "Image-URL-L",
]


@pytest.fixture()
def raw(spark):
    rows = [
        ("1", "034545104X", "5", "tyler, texas, usa", "23.0",
         "B1", "A1", "1999", "P1", "u", "u", "u"),
        # missing last location token only: Country splits to ""
        ("2", "0155061224", "7", "san jose, ca,", "31.0",
         "B2", "A2", "2001", "P2", "u", "u", "u"),
        # single-space sentinel in a key column
        ("3", " ", "9", "moscow, yukon territory, russia", " ",
         "B3", "A3", "2000", "P3", "u", "u", "u"),
    ]
    return spark.createDataFrame(rows, RAW_COLUMNS)


def test_expand_keeps_leading_spaces(raw):
    out = Transformer().transform(raw, "ExpandData")
    r = {x["Customer-ID"]: x for x in out.collect()}
    # reference fidelity: split on ',' does NOT trim
    assert r["1"]["State"] == " texas" and r["1"]["Country"] == " usa"
    assert r["2"]["State"] == " ca" and r["2"]["Country"] == ""


def test_clean_reproduces_reference_quirks(raw):
    t = Transformer()
    clean = t.transform(t.transform(raw, "ExpandData"), "CleanData")
    kept = {x["Customer-ID"] for x in clean.collect()}
    # row 3 dropped: ISBN is the " " sentinel → NULL → dropna
    # row 2 KEPT with Country "": the empty string is NOT caught by the
    # reference's " "-only convention (reference bug, faithfully reproduced
    # here; the canonical pipeline catches "" too and would drop it)
    assert kept == {"1", "2"}
    countries = {x["Customer-ID"]: x["Country"] for x in clean.collect()}
    assert countries["2"] == ""


def test_full_reference_flow_and_loader(spark, raw, tmp_path):
    t, loader = Transformer(), Loader()
    clean = t.transform(t.transform(raw, "ExpandData"), "CleanData")
    books = t.transform(clean, "BooksDimensionTable")
    customers = t.transform(clean, "CustomersDimensionTable")
    facts = t.transform(clean, "RatingsFactTable")
    top = t.transform(clean, "Top100Books", columns=["ISBN", "Book-Title", "Book-Rating"])
    assert books.columns == ["ISBN", "Book-Title", "Book-Author", "Year-Of-Publication", "Publisher"]
    assert customers.columns == ["Customer-ID", "Age", "City", "State", "Country"]
    assert facts.columns == ["ISBN", "Customer-ID", "Book-Rating"]
    assert top.columns == ["ISBN", "Book-Title", "Average-Rating", "Total-Ratings"]
    assert top.count() == 0  # < 100 ratings per book in 3 rows

    out = str(tmp_path)
    loader.load(facts, "overwrite", out, "Ratings")
    back = Extractor().extract_csv(spark, f"{out}/Ratings")
    assert back.count() == facts.count()


def test_unknown_transformer_raises():
    with pytest.raises(Exception, match="unknown transformer"):
        Transformer().transform(None, "Nope")
