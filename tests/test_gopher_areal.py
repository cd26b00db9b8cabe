"""Closed-form checks for the r4k operators: Gopher word-statistics
quality rules (functions/text.gopher_flags) and area-weighted areal
interpolation (catalog.areal_interp).  Oracle equality runs in
test_catalog_oracle / the randomized-corpus gate; these pin the
SEMANTICS against hand-computed expectations."""

from pyspark.sql import functions as F

from urbanistic_polygons_spark.catalog.spatial import _areal_terms
from urbanistic_polygons_spark.functions import text as X

SF = "/root/testdata/sf0.001"


def _flags(spark, text):
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    tok = df.select("doc_id", "text", X.tokens(F.col("text")).alias("toks"))
    return tok.select(
        "doc_id", *X.gopher_flags(F.col("text"), F.col("toks"))).first()


def test_gopher_keep_on_clean_doc(spark):
    # 24 words, mean length in [3,10], has 'the' and 'a', no symbols
    r = _flags(spark, "the quick brown fox jumps over a lazy dog " * 2
               + "the quick brown fox jumps a")
    assert r["n_words"] == 24
    assert (r["r_words"], r["r_mean"], r["r_symbol"], r["r_alpha"],
            r["r_stop"], r["keep"]) == (1, 1, 1, 1, 1, 1)


def test_gopher_word_count_bound(spark):
    r = _flags(spark, "the a short doc")
    assert r["n_words"] == 4 and r["r_words"] == 0 and r["keep"] == 0


def test_gopher_alpha_fraction(spark):
    # 20 numeric words + 'the a' twice: 4/24 alphabetic < 80%
    r = _flags(spark, "123 456 " * 10 + "the a the a")
    assert r["n_alpha_words"] == 4
    assert r["r_alpha"] == 0 and r["keep"] == 0


def test_gopher_symbol_ratio(spark):
    # 3 hashtags + 1 ellipsis against 24 words: 10*4 > 24 -> fail
    base = "the a word " * 8
    r = _flags(spark, base + "# # # ...")
    assert r["n_symbols"] == 4 and r["n_words"] == 28
    assert r["r_symbol"] == 0


def test_gopher_stopword_rule_needs_two_distinct(spark):
    # only 'the' (repeated) from the required set -> r_stop = 0
    r = _flags(spark, "the the the quick brown fox jumps over " * 3)
    assert r["n_req_stop"] == 1 and r["r_stop"] == 0


def test_gopher_empty_doc(spark):
    r = _flags(spark, "")
    assert r["n_words"] == 0 and r["sum_word_chars"] == 0
    # vacuous ratio rules pass (0 <= 0), the count/stopword rules fail
    assert (r["r_mean"], r["r_symbol"], r["r_alpha"]) == (1, 1, 1)
    assert (r["r_words"], r["r_stop"], r["keep"]) == (0, 0, 0)


def test_areal_conservation_per_rect(spark):
    """Σ_cells floor(pop * overlap / area) per rect is pop_cents minus
    the per-cell floor loss: pop - n_cells < Σ terms <= pop.  The
    covering cells tile the rect exactly, so the un-floored terms sum to
    pop exactly; flooring loses < 1 per cell."""
    per_rect = (_areal_terms(spark, SF)
                .groupBy("poly_id", "pop_cents")
                .agg(F.sum("term").alias("s"), F.count("*").alias("nc")))
    bad = per_rect.filter(
        (F.col("s") > F.col("pop_cents"))
        | (F.col("s") <= F.col("pop_cents") - F.col("nc")))
    assert bad.count() == 0
    assert per_rect.count() > 0


def test_areal_single_cell_rect_transfers_everything(spark):
    """A rect fully inside one cell contributes exactly pop_cents."""
    one = (_areal_terms(spark, SF)
           .groupBy("poly_id", "pop_cents")
           .agg(F.sum("term").alias("s"), F.count("*").alias("nc"))
           .filter(F.col("nc") == 1))
    assert one.filter(F.col("s") != F.col("pop_cents")).count() == 0
