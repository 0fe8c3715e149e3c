"""Reference-format corpus JSON loader (S1-S3) + valid-span filter (P1/P2/A3)."""

import json

from pyspark.sql import functions as F

import pytest

from causalre_spark.sources.corpus_json import filter_valid_spans, load_corpus_json

FIXTURE = {
    "schema": {"span_types": [{"name": "event", "color": "c"}],
               "relation_types": [{"name": "causal", "color": "c"}]},
    "data": {
        "train": [
            {"tokens": ["Heavy", "rain", "caused", "flooding", "."],
             "spans": [{"start": 0, "end": 2, "type": "event"},
                       {"start": 3, "end": 4, "type": "event"}],
             "relations": [{"head": 0, "tail": 1, "type": "causal"}]},
            {"tokens": ["a"] * 30,
             "spans": [{"start": 0, "end": 25, "type": "event"},   # too wide (W=8)
                       {"start": 2, "end": 4, "type": "event"},
                       {"start": 28, "end": 30, "type": "event"}],  # beyond L=20
             "relations": [{"head": 0, "tail": 1, "type": "causal"},
                           {"head": 1, "tail": 2, "type": "causal"}]},
        ],
        "val": [],
    },
}

FIXTURE_ID = {
    "schema": FIXTURE["schema"],
    "data": {"train": [
        {"tokens": ["x", "y", "z"],
         "spans": [{"id": "s7", "start": 0, "end": 1, "type": "event"},
                   {"id": "s9", "start": 2, "end": 3, "type": "event"}],
         "relations": [{"head": "s9", "tail": "s7", "type": "causal"}]},
    ]},
}


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "fixture.json"
    p.write_text(json.dumps(FIXTURE))
    return str(p)


def test_load_splits_and_schema(spark, corpus_path):
    schema, splits = load_corpus_json(spark, corpus_path)
    assert schema["span_types"][0]["name"] == "event"
    assert set(splits) == {"train", "val"}
    rows = splits["train"].orderBy("doc_id").collect()
    assert rows[0]["tokens"][:2] == ["Heavy", "rain"]
    assert rows[0]["relations"][0]["head"] == 0


def test_id_format_conversion(spark, tmp_path):
    p = tmp_path / "id.json"
    p.write_text(json.dumps(FIXTURE_ID))
    _, splits = load_corpus_json(spark, str(p), data_format="id")
    r = splits["train"].collect()[0]["relations"][0]
    assert (r["head"], r["tail"]) == (1, 0)


def test_filter_valid_spans_and_remap(spark, corpus_path):
    _, splits = load_corpus_json(spark, corpus_path)
    out = filter_valid_spans(splits["train"], max_seq_len=20, max_span_width=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0: everything survives
    assert len(rows[0]["spans"]) == 2 and rows[0]["n_lost_rels"] == 0
    # doc 1: only span (2,4) survives; both relations lost
    assert [(s["start"], s["end"]) for s in rows[1]["spans"]] == [(2, 4)]
    assert rows[1]["relations"] == [] and rows[1]["n_lost_rels"] == 2


def test_loads_reference_custom_dataset(spark):
    """S1-S3 against the reference's ACTUAL corpus artifact: the Custom
    dataset loads with the documented shape (SURVEY §1.1: 876 obs,
    splits 700/88/88, schema = event/causal), and the P1/P2 filter at
    the reference limits (L=200, W=80) preserves every relation the
    validator would keep."""
    import os

    path = ("/root/reference/CRE Model/data/Custom Dataset/"
            "mixed_final_for_model_80-10-10_rs129.json")
    if not os.path.exists(path):
        pytest.skip("reference dataset not present")
    schema, splits = load_corpus_json(spark, path, data_format="idx")
    assert [t["name"] for t in schema["span_types"]] == ["event"]
    assert [t["name"] for t in schema["relation_types"]] == ["causal"]
    counts = {k: v.count() for k, v in splits.items()}
    assert counts == {"train": 700, "val": 88, "test": 88}
    filtered = filter_valid_spans(splits["train"], max_seq_len=200,
                                  max_span_width=80)
    row = filtered.agg({"n_lost_rels": "sum"}).collect()[0][0]
    # at the model's own limits the curated corpus loses (almost) nothing
    assert row is not None and row <= 5


def test_schema_evolution_merge(spark, tmp_path):
    """Crawl deltas evolve schemas (a new column appears in month N+1).
    The ingest path must read old+new together: mergeSchema on the scan
    and unionByName(allowMissingColumns) on pre-read frames both yield
    the superset schema with nulls for the missing column."""
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [("u1", "hello", "en")], "url string, text string, lang string"
    ).write.parquet(old)
    spark.createDataFrame(
        [("u2", "bonjour", "fr", 0.9)],
        "url string, text string, lang string, lang_conf double"
    ).write.parquet(new)

    merged = spark.read.option("mergeSchema", "true").parquet(old, new)
    assert set(merged.columns) == {"url", "text", "lang", "lang_conf"}
    rows = {r["url"]: r["lang_conf"] for r in merged.collect()}
    assert rows == {"u1": None, "u2": 0.9}

    a, b = spark.read.parquet(old), spark.read.parquet(new)
    u = a.unionByName(b, allowMissingColumns=True)
    assert u.count() == 2 and "lang_conf" in u.columns


def test_corrupt_json_records_are_quarantined(spark, tmp_path):
    """Real crawls contain malformed JSON lines. PERMISSIVE mode must
    load the good rows and route bad lines to _corrupt_record (never
    silently drop, never fail the job) — and the corrupt rows are
    countable for lineage/metrics."""
    src = tmp_path / "lines.json"
    src.write_text(
        '{"url": "u1", "text": "ok"}\n'
        'this is not json at all\n'
        '{"url": "u2", "text": "also ok"}\n'
        '{"url": "u3", "text": truncated\n')
    df = (spark.read
          .schema("url string, text string, _corrupt_record string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(str(src)))
    df = df.cache()  # corrupt-record column requires materialization
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r["url"] for r in good.collect()} == {"u1", "u2"}
    assert bad.count() == 2
    df.unpersist()


def test_config_from_yaml_round_trip(tmp_path):
    """Reference config_manager analogue: YAML -> PipelineConfig with
    loud unknown-key rejection and validation intact."""
    import pytest as _pytest

    from causalre_spark.config import (
        PipelineConfig,
        config_from_dict,
        config_from_yaml,
    )

    p = tmp_path / "config.yaml"
    p.write_text(
        "max_top_k_spans: 12\n"
        "predict_thd: 0.4\n"
        "tagging_mode: BECO\n"
        "extra:\n  table_namespace: kg\n")
    cfg = config_from_yaml(str(p))
    assert (cfg.max_top_k_spans, cfg.predict_thd, cfg.tagging_mode) \
        == (12, 0.4, "BECO")
    assert cfg.extra == {"table_namespace": "kg"}
    # untouched knobs keep defaults
    assert cfg.max_seq_len == PipelineConfig().max_seq_len
    # typo'd knob fails loudly (the reference's validation contract)
    with _pytest.raises(ValueError, match="unknown config keys"):
        config_from_dict({"max_topk_spans": 12})
    # a retired knob is an unknown key too
    with _pytest.raises(ValueError, match="unknown config keys"):
        config_from_dict({"length_bucket": True})
    # dataclass validation still applies through the loader
    with _pytest.raises(ValueError, match="max_tagger_candidates"):
        config_from_dict({"max_tagger_candidates": 0})


def test_main_config_sizes_the_session(spark, tmp_path, monkeypatch, capsys):
    """`main --config` loads the YAML before it builds the session, so
    its execution knobs (shuffle partitions, Arrow batch cap) reach
    get_spark instead of the defaults."""
    import json

    from causalre_spark import main as main_mod
    from causalre_spark import session
    from causalre_spark.config import DEFAULT_CONFIG

    seen = []

    def recording_get_spark(*args, **kwargs):
        seen.append(kwargs.get("cfg", DEFAULT_CONFIG))
        return spark

    monkeypatch.setattr(session, "get_spark", recording_get_spark)
    yml = tmp_path / "run.yaml"
    yml.write_text("shuffle_partitions: 7\narrow_max_records: 64\n")
    assert main_mod.main(["--synthetic", "3", "--out", str(tmp_path / "wd"),
                          "--config", str(yml)]) == 0
    assert [(c.shuffle_partitions, c.arrow_max_records) for c in seen] == [(7, 64)]
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["workdir"] == str(tmp_path / "wd")


def test_config_value_type_validation():
    """A YAML value typo (quoted number, scalar for a mapping) fails at
    load time, not deep inside run_pipeline."""
    import pytest as _pytest

    from causalre_spark.config import config_from_dict

    with _pytest.raises(ValueError, match="expected float"):
        config_from_dict({"predict_thd": "0.4"})
    with _pytest.raises(ValueError, match="expected dict"):
        config_from_dict({"extra": 3})
    with _pytest.raises(ValueError, match="expected int, got bool"):
        config_from_dict({"max_top_k_spans": True})
    # int -> float coercion is the one permitted widening
    assert config_from_dict({"predict_thd": 1}).predict_thd == 1.0
