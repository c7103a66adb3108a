"""The correctness gate must reject wrong output, not just pass right
output. Run from the repository root: python3 -m pytest perfbench/tests"""

import copy

import corpus
import gate


def _case():
    rows = corpus.html_pages(3, 12) + corpus.pdf_docs(3, 4)
    expected = {r["url"]: gate.expect_one((r["url"], r["html"])) for r in rows}
    committed = [
        {"url": url, "doc_id": e[0], "text": e[1],
         "spans": [{"start": s, "end": t, "page": p} for s, t, p in e[2]],
         "n_pages": e[3], "n_failed": e[4]}
        for url, e in expected.items() if e is not None
    ]
    failed = {r["url"] for r in rows if expected[r["url"]] is None}
    return rows, expected, committed, failed


def _check(rows, expected, committed, failed):
    return gate.check_extraction(committed, expected, rows, failed)


def test_kernel_output_passes():
    rows, expected, committed, failed = _case()
    assert len(committed) >= 12
    assert _check(rows, expected, committed, failed) == ([], 0)


def test_one_character_span_shift_is_rejected():
    rows, expected, committed, failed = _case()
    bad = copy.deepcopy(committed)
    multi = next(r for r in bad if len(r["spans"]) > 1)
    multi["spans"][0]["end"] -= 1
    multi["spans"][1]["start"] -= 1
    errors, wrong = _check(rows, expected, bad, failed)
    assert wrong == 1 and multi["url"] in errors[0]


def test_duplicated_url_is_rejected():
    rows, expected, committed, failed = _case()
    bad = committed + [dict(committed[0])]
    errors, wrong = _check(rows, expected, bad, failed)
    assert wrong == 1 and "more than once" in errors[0]


def test_missing_doc_and_kept_boilerplate_are_rejected():
    rows, expected, committed, failed = _case()
    errors, wrong = _check(rows, expected, committed[1:], failed)
    assert wrong == 1 and "not committed" in errors[0]
    bad = copy.deepcopy(committed)
    html = next(r for r in bad if r["url"].endswith(".html"))
    html["text"] += " PORTAL"
    errors, _ = _check(rows, expected, bad, failed)
    assert any("sha1" in e for e in errors) and any("PORTAL" in e for e in errors)


def test_expected_failure_must_reach_the_failures_table():
    broken = dict(corpus.pdf_docs(5, 1)[0], expect="fail")
    broken["html"] = corpus.truncated(broken["html"])
    expected = {broken["url"]: gate.expect_one((broken["url"], broken["html"]))}
    assert expected[broken["url"]] is None
    errors, wrong = gate.check_extraction([], expected, [broken], set())
    assert wrong == 1 and "failures table" in errors[0]


def test_oracle_comparison_is_order_insensitive_and_strict():
    cols = ["a", "b"]
    assert gate.compare_oracle([(1, 0.5), (2, 1.0)], cols, [(2, 1.0), (1, 0.5)], cols) is None
    assert gate.compare_oracle([(1, 0.5)], cols, [(1, 0.51)], cols) is not None
    assert gate.compare_oracle([(1, 0.5)], cols, [], cols) is not None
