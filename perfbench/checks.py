"""Output checks: engine results against the generator's planted truth.

Each check takes plain Python rows (already collected from Spark) and returns
a list of mismatch descriptions; an empty list means the output is correct.
A pass or batch with any mismatch counts as failed.
"""

from __future__ import annotations

from itertools import combinations

# MinHash-LSH (32 hashes, 8 bands, threshold 0.7) finds a planted
# root/copy pair (one or two substituted words in 50-90) with probability
# well above this; a per-seed recall below it means the kernel lost pairs.
MINHASH_RECALL_FLOOR = 0.85


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def check_scan(truth: dict, verdicts, viol_counts, profile_row, table_viols,
               extract_mismatches: int, json_counts) -> list[str]:
    """The outputs of one validate_scan pass.

    verdicts: ``(lang, total_rows, failed_rows)`` per validated lang;
    viol_counts and json_counts: ``(field, code, count)``, of ``run_full``
    and of ``validate_json_objects`` over ``meta``; profile_row: dict of the
    profile; table_viols: ``(field, key, code)`` rows."""
    errs = []
    got_verdicts = {("null" if lang is None else lang): [t, f] for lang, t, f in verdicts}
    errs += _diff("verdicts", got_verdicts, truth["verdicts"])
    errs += _diff(
        "violation counts",
        {f"{f}|{c}": n for f, c, n in viol_counts},
        truth["violations"],
    )
    errs += _diff("profile.row_count", profile_row["row_count"], truth["rows"])
    for col, n in truth["nulls"].items():
        errs += _diff(f"profile.{col}_nulls", profile_row[f"{col}_nulls"], n)
    by_code: dict[str, list] = {}
    for f, key, code in table_viols:
        by_code.setdefault(code, []).append((f, key))
    errs += _diff("duplicate url keys", len(by_code.get("DUPLICATE_KEY", [])),
                  truth["duplicate_url_keys"])
    errs += _diff("orphan langs", sorted(k for _, k in by_code.get("REFERENTIAL_ERROR", [])),
                  truth["orphan_langs"])
    errs += _diff("failed table checks", sorted(f for f, _ in by_code.get("TABLE_CHECK_ERROR", [])),
                  truth["failed_table_checks"])
    errs += _diff("extract_text mismatches", extract_mismatches, 0)
    errs += _diff("json violation counts", {f"{f}|{c}": n for f, c, n in json_counts},
                  truth["json_violations"])
    return errs


def check_write(want: dict, manifest_rows, output_bytes: int) -> list[str]:
    """Manifest rows ``(partition_value, total, passed, failed)`` of one
    ``run_resumable`` pass against the planted ``{partition: [total,
    failed]}``."""
    got = {p: [t, f] for p, t, _, f in manifest_rows}
    errs = _diff("manifest totals", got, want)
    if sum(t for _, t, _, _ in manifest_rows) <= 0:
        errs.append("pass wrote no rows")
    if output_bytes <= 0:
        errs.append("pass left no output on disk")
    return errs


def _pair(a, b) -> tuple:
    return (a, b) if a < b else (b, a)


def check_near_dup(truth: dict, minhash_pairs, containment_rows, classifier_row
                   ) -> tuple[list[str], dict[str, float]]:
    """One near_dup_curation pass.  Returns ``(errors, funnel)`` where
    funnel holds the verified counts and the planted recall."""
    errs = []
    same_cluster = {_pair(a, b) for c in truth["clusters"] for a, b in combinations(c, 2)}
    contain = {tuple(p) for p in truth["containment_pairs"]}
    planted = {tuple(p) for p in truth["near_dup_pairs"]}

    found = {_pair(a, b) for a, b in minhash_pairs}
    recall = len(found & planted) / len(planted)
    if not found:
        errs.append("minhash verified no pairs")
    if recall < MINHASH_RECALL_FLOOR:
        errs.append(f"minhash planted recall {recall:.3f} < {MINHASH_RECALL_FLOOR}")
    stray = found - same_cluster - {_pair(a, b) for a, b in contain}
    if stray:
        errs.append(f"minhash pairs outside planted groups: {sorted(stray)[:5]}")

    got_contain = {(a, b) for a, b in containment_rows}
    if not got_contain:
        errs.append("containment verified no pairs")
    missing = contain - got_contain
    if missing:
        errs.append(f"planted containment pairs missed: {sorted(missing)[:5]}")
    stray = {_pair(a, b) for a, b in got_contain} - same_cluster - {_pair(a, b) for a, b in contain}
    if stray:
        errs.append(f"containment pairs outside planted groups: {sorted(stray)[:5]}")

    n_docs, n_features = classifier_row
    errs += _diff("classifier docs", n_docs, truth["rows"])
    errs += _diff("classifier n_features", n_features, truth["n_features"])
    funnel = {
        "dedup.minhash.verified": float(len(found)),
        "dedup.containment.verified": float(len(got_contain)),
        "dedup.planted_recall": recall,
    }
    return errs, funnel
