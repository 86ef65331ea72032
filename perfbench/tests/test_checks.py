"""The output checks fail loudly: one altered row, a lost paragraph, a
leak, a 0-vs-0 count or an inconsistent funnel each trip them."""

import copy

import pytest

from perfbench import checks, gen
from smartreader_spark.kernel.reader import extract_html


def _kernel_rows(pages):
    return {d: checks.kernel_row(d, extract_html(h)) for d, h in pages.items()}


def _short_pages():
    rows = gen.short_html_rows(1, 30)
    return {
        str(i): (
            f"<html><head><title>doc {i}</title></head><body><article><p>{t}</p>"
            "</article></body></html>"
        )
        for i, t, _l, _s in rows[:5]
    }


def test_unaltered_rows_pass():
    pages = _short_pages()
    checks.check_against_kernel(_kernel_rows(pages), pages)


@pytest.mark.parametrize("field", [1, 2, 12, 14])
def test_one_altered_row_trips_the_check(field):
    pages = _short_pages()
    rows = _kernel_rows(pages)
    victim = sorted(rows)[2]
    bad = copy.deepcopy(rows)
    value = bad[victim][field]
    if isinstance(value, list):
        bad[victim][field] = value[1:] if value else [["text", "x", None, 0]]
    elif isinstance(value, int):
        bad[victim][field] = value + 1
    else:
        bad[victim][field] = (value or "") + "x"
    assert bad[victim] != rows[victim]
    with pytest.raises(checks.CheckFailed, match=victim):
        checks.check_against_kernel(bad, pages)


def test_missing_sampled_row_trips_the_check():
    pages = _short_pages()
    rows = _kernel_rows(pages)
    rows.pop(sorted(rows)[0])
    with pytest.raises(checks.CheckFailed):
        checks.check_against_kernel(rows, pages)


def test_zero_vs_zero_is_never_accepted():
    with pytest.raises(checks.CheckFailed):
        checks.check_counts(0, [], [])
    with pytest.raises(checks.CheckFailed):
        checks.check_counts(3, ["1", "2", "3"], ["1", "2"])
    checks.check_counts(2, [1, 2], ["2", "1"])


def _media_rows(pages):
    out = []
    for doc_id, html, _p, _i in pages:
        r = extract_html(html)
        out.append({"doc_id": doc_id, "spans": r["spans"], "error": r["error"]})
    return out


def test_media_recall_and_leak_checks():
    pages = gen.long_media_pages(2, 3)
    rows = _media_rows(pages)
    checks.check_media_recall(rows, pages)

    lost = copy.deepcopy(rows)
    lost[0]["spans"] = [s for s in lost[0]["spans"] if s["kind"] != "text"][:1]
    with pytest.raises(checks.CheckFailed, match="paragraphs lost"):
        checks.check_media_recall(lost, pages)

    leaked = copy.deepcopy(rows)
    leaked[1]["spans"].append(
        {"kind": "text", "text": f"buy now {gen.BOILERPLATE_MARK}", "media_ref": None,
         "offset": 99}
    )
    with pytest.raises(checks.CheckFailed, match="boilerplate"):
        checks.check_media_recall(leaked, pages)


def test_funnel_consistency():
    ok = {"00_extracted": 108, "10_exact_deduped": 90, "20_near_deduped": 80,
          "30_quality_passed": 70}
    checks.check_funnel(ok, 100, 8, 70)
    with pytest.raises(checks.CheckFailed):
        checks.check_funnel(dict(ok, **{"00_extracted": 107}), 100, 8, 70)
    with pytest.raises(checks.CheckFailed):
        checks.check_funnel(dict(ok, **{"20_near_deduped": 95}), 100, 8, 70)
    with pytest.raises(checks.CheckFailed):
        checks.check_funnel(ok, 100, 8, 69)


def test_survivor_comparison():
    rows = [["1", "html", "fp", "en", 120, 25, 30, 0.0, 0.25]]
    checks.check_survivors(rows, copy.deepcopy(rows))
    bad = copy.deepcopy(rows)
    bad[0][8] = 0.26
    with pytest.raises(checks.CheckFailed):
        checks.check_survivors(bad, rows)
    with pytest.raises(checks.CheckFailed):
        checks.check_survivors([], [])
