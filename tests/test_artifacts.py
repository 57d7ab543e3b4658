"""Tagger artifact save/load with the reference's fallback chain."""

from extract_address_ner_spark.sources.artifacts import (
    TaggerArtifact,
    builtin_artifact,
    list_versions,
    load_artifact,
    save_artifact,
)


def test_save_load_roundtrip(tmp_path):
    base = str(tmp_path)
    a = builtin_artifact("v1")
    a.metrics = {"f1": 1.0, "precision": 1.0}
    save_artifact(base, a)
    got = load_artifact(base, "v1")
    assert got == a


def test_latest_and_fallback_chain(tmp_path):
    base = str(tmp_path)
    # nothing saved → builtin fallback
    assert load_artifact(base).version == "builtin"
    save_artifact(base, builtin_artifact("v1"))
    save_artifact(base, builtin_artifact("v2"))
    # latest committed wins when no version requested
    assert load_artifact(base).version == "v2"
    # missing requested version falls back to latest
    assert load_artifact(base, "nope").version == "v2"
    # registry is latest-first, bounded
    assert [r["version"] for r in list_versions(base)] == ["v2", "v1"]


def test_uncommitted_version_skipped(tmp_path):
    base = str(tmp_path)
    save_artifact(base, builtin_artifact("good"))
    d = save_artifact(base, builtin_artifact("bad"))
    import os

    os.remove(os.path.join(d, "_SUCCESS"))  # simulate torn write
    assert load_artifact(base, "bad").version == "good"


def test_artifact_matches_runtime_lexicon():
    a = builtin_artifact()
    from extract_address_ner_spark import oracle

    assert set(a.start_regions) == oracle.START_REGIONS
    assert a.cont_regex == oracle.CONT_RE.pattern
    assert TaggerArtifact(**{**a.__dict__}) == a
