"""Output checks fail on a wrong count, pass on the planted truth, and the
generators are deterministic in their seed."""

import json

import pytest

import checks
import gen


@pytest.fixture(scope="module")
def web(tmp_path_factory):
    return gen.web_pages(7, 4000, str(tmp_path_factory.mktemp("web")))


def _scan_outputs(truth):
    verdicts = [(None if k == "null" else k, t, f) for k, (t, f) in truth["verdicts"].items()]
    counts = [tuple(k.split("|")) + (n,) for k, n in truth["violations"].items()]
    profile = {"row_count": truth["rows"], **{f"{c}_nulls": n for c, n in truth["nulls"].items()}}
    tv = ([("url", f"u{i}", "DUPLICATE_KEY") for i in range(truth["duplicate_url_keys"])]
          + [("lang", k, "REFERENTIAL_ERROR") for k in truth["orphan_langs"]]
          + [(f, None, "TABLE_CHECK_ERROR") for f in truth["failed_table_checks"]])
    meta = [tuple(k.split("|")) + (n,) for k, n in truth["json_violations"].items()]
    return verdicts, counts, profile, tv, 0, meta


def test_scan_check_accepts_truth(web):
    assert checks.check_scan(web, *_scan_outputs(web)) == []


def test_scan_check_fails_on_a_wrong_count(web):
    verdicts, counts, profile, tv, mism, meta = _scan_outputs(web)
    f, c, n = counts[0]
    counts[0] = (f, c, n + 1)
    errs = checks.check_scan(web, verdicts, counts, profile, tv, mism, meta)
    assert len(errs) == 1 and "violation counts" in errs[0]
    counts = _scan_outputs(web)[1]
    assert checks.check_scan(web, verdicts, counts, profile, tv, 1, meta)
    assert checks.check_scan(web, verdicts[1:], counts, profile, tv, 0, meta)
    meta[0] = meta[0][:2] + (meta[0][2] - 1,)
    errs = checks.check_scan(web, verdicts, counts, profile, tv, 0, meta)
    assert len(errs) == 1 and "json violation counts" in errs[0]


def test_write_check_compares_manifest_with_shards(tmp_path):
    truth = gen.near_dup_corpus(5, 3000, str(tmp_path))
    assert sum(f for _, f in truth["shards"].values()) > 0
    rows = [(k, t, t - f, f) for k, (t, f) in truth["shards"].items()]
    assert checks.check_write(truth["shards"], rows, 123) == []
    bad = [(k, t, p + 1, f - 1) for k, t, p, f in rows]
    assert checks.check_write(truth["shards"], bad, 123)
    assert checks.check_write(truth["shards"], rows, 0) == ["pass left no output on disk"]
    assert "pass wrote no rows" in checks.check_write(truth["shards"], [], 123)


def test_near_dup_check_recall_floor_and_strays(tmp_path):
    truth = gen.near_dup_corpus(5, 3000, str(tmp_path))
    planted = [tuple(p) for p in truth["near_dup_pairs"]]
    contain = [tuple(p) for p in truth["containment_pairs"]]
    cls = (truth["rows"], truth["n_features"])
    errs, funnel = checks.check_near_dup(truth, planted, contain, cls)
    assert errs == [] and funnel["dedup.planted_recall"] == 1.0
    keep = int(len(planted) * (checks.MINHASH_RECALL_FLOOR - 0.05))
    errs, _ = checks.check_near_dup(truth, planted[:keep], contain, cls)
    assert any("recall" in e for e in errs)
    errs, _ = checks.check_near_dup(truth, planted, contain, (cls[0], cls[1] - 1))
    assert any("n_features" in e for e in errs)
    errs, _ = checks.check_near_dup(truth, planted, contain[1:], cls)
    assert any("missed" in e for e in errs)


def test_generators_are_deterministic(tmp_path):
    a = gen.web_pages(11, 2000, str(tmp_path / "a"))
    b = gen.web_pages(11, 2000, str(tmp_path / "b"))
    c = gen.web_pages(12, 2000, str(tmp_path / "c"))
    assert a == b and a != c
    for name in ("part-000.parquet", "part-007.parquet"):
        assert (tmp_path / "a" / "pages" / name).read_bytes() == (
            tmp_path / "b" / "pages" / name).read_bytes()
    assert json.dumps(gen.near_dup_corpus(2, 3000, str(tmp_path / "n1")), sort_keys=True) == \
        json.dumps(gen.near_dup_corpus(2, 3000, str(tmp_path / "n2")), sort_keys=True)
