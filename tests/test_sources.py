"""Error-tolerant readers, nested flattening, profiling, config."""

import os

import pytest
from pyspark.sql import functions as F

from ccer.config import CcerConfig
from ccer.operators.etl import flatten_works, pivot_author_affiliations
from ccer.operators.profile import profile_table, profile_table_approx, sample_rows
from ccer.sources.readers import (
    read_csv_tolerant,
    read_jsonl_tolerant,
    write_ordered_csv,
    write_partitioned_csv,
)


def test_jsonl_tolerant_with_error_side_table(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"work_id": "W1", "doi": "10.1/a"}\n'
        "this is not json at all\n"
        '{"work_id": "W2", "doi": "10.2/b"}\n'
        '{"work_id": broken\n'
    )
    good, errors = read_jsonl_tolerant(
        spark, str(p), schema="work_id string, doi string"
    )
    assert {r["work_id"] for r in good.collect()} == {"W1", "W2"}
    errs = errors.collect()
    assert len(errs) == 2
    assert all(e["row_content"] for e in errs)
    assert set(errors.columns) == {"error_message", "row_content", "timestamp"}


def test_csv_tolerant_and_column_mapping(spark, tmp_path):
    p = tmp_path / "input.csv"
    p.write_text('DOI,Author List\n10.1/a,"Smith, J; Doe, A"\n10.2/b,Solo Author\n')
    df = read_csv_tolerant(
        spark, str(p), column_mapping={"DOI": "doi", "Author List": "authors"}
    )
    assert set(df.columns) == {"doi", "authors"}
    assert df.count() == 2
    # all-varchar: everything is string
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_nested_flatten_roundtrip_to_pivot(spark):
    works = spark.createDataFrame(
        [
            (
                "W1",
                "10.1/a",
                [
                    {
                        "author_name": "Ada Lovelace",
                        "affiliations": [
                            {"affiliation_name": "Analytical Engines", "institution_id": "I0001"},
                            {"affiliation_name": "Royal Society", "institution_id": None},
                        ],
                    },
                    {"author_name": "Charles Babbage", "affiliations": []},
                ],
            ),
        ],
        "work_id string, doi string, authorships array<struct<"
        "author_name string, affiliations array<struct<"
        "affiliation_name string, institution_id string>>>>",
    )
    long = flatten_works(works)
    rows = {(r["field_name"], r["subfield_path"], r["value"]) for r in long.collect()}
    assert ("authorships.author.display_name", "authorships[0].author.display_name", "Ada Lovelace") in rows
    assert (
        "authorships.affiliations.raw_affiliation_string",
        "authorships[0].affiliations[1].raw_affiliation_string",
        "Royal Society",
    ) in rows
    assert ("authorships.author.display_name", "authorships[1].author.display_name", "Charles Babbage") in rows
    # the full relay: nested → long → denormalized author×affiliation rows
    wide = pivot_author_affiliations(long)
    got = {
        (r["author_name"], r["affiliation_name"]) for r in wide.collect()
    }
    assert got == {
        ("Ada Lovelace", "Analytical Engines"),
        ("Ada Lovelace", "Royal Society"),
        ("Charles Babbage", ""),  # empty-affiliation row case
    }


def test_partitioned_and_ordered_sinks(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s2"), (3, "c", "s1")],
        "id int, v string, source_id string",
    )
    out1 = str(tmp_path / "part")
    write_partitioned_csv(df, out1, ["source_id"])
    assert os.path.isdir(os.path.join(out1, "source_id=s1"))
    back = spark.read.option("header", True).csv(out1)
    assert back.count() == 3

    out2 = str(tmp_path / "ordered")
    write_ordered_csv(df, out2, ["id"])
    files = [f for f in os.listdir(out2) if f.endswith(".csv")]
    assert len(files) == 1


def test_profile_table(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id int, v string"
    )
    row = profile_table(df, distinct_cols=["v"]).collect()[0]
    assert row["n_rows"] == 3 and row["nulls_v"] == 1 and row["distinct_v"] == 1
    arow = profile_table_approx(df, ["id"]).collect()[0]
    assert arow["approx_distinct_id"] >= 2
    assert [r["id"] for r in sample_rows(df, 2)] == [1, 2]


def test_config_yaml_roundtrip(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        """
column_mapping: {DOI: doi}
name_threshold: 0.9
blocking_passes: [url, minhash]
organization_names: [EMBL]
"""
    )
    cfg = CcerConfig.from_yaml(str(p))
    assert cfg.name_threshold == 0.9
    assert cfg.pipeline.passes == ("url", "minhash")
    assert cfg.pipeline.scoring.cos_hi == 0.80


def test_config_yaml_rejects_unknown_keys(tmp_path):
    """A misspelt key fails loudly instead of running with the default."""
    p = tmp_path / "cfg.yaml"
    p.write_text("block_cpa: 99\nscorer: sql\nname_threshold: 0.9\n")
    with pytest.raises(ValueError, match=r"\['block_cpa'\]"):
        CcerConfig.from_yaml(str(p))
