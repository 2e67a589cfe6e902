"""Output checks. Each returns a number of mismatches; 0 means correct.

The reference verdict is recomputed in this process through the unguarded
rule chain (`rules.scrub_stage1 -> classify -> scrub_stage2 -> is_jsonish`),
which shares no code path with the UDF's vectorized guards. Gates that run
after the rules may only flip a kept page to their own label, and the C4
gate may only drop whole lines of a kept page.
"""
from __future__ import annotations

import os

from puddin_spark import rules

from perfbench.gen import golden_url


def reference_verdict(raw: str) -> tuple[bool, str | None, str | None]:
    """(keep, excl_type, clean_text) of one page under the rules alone."""
    mid = rules.scrub_stage1(raw)
    label = rules.classify(mid)
    if label is not None:
        return False, label, None
    clean = rules.scrub_stage2(mid)
    if rules.is_jsonish(clean):
        return False, "fail", None
    return True, None, clean


def _is_line_subsequence(got: str, want: str) -> bool:
    it = iter(want.split("\n"))
    return all(line in it for line in got.split("\n"))


# A program defect: the near-dup sidecars flip a page to keep=false but
# leave its clean_text in place (the gates null it). Rows with these labels
# may carry the text they had when flipped.
TEXT_KEEPING_LABELS = frozenset({"near_dup", "emb_near_dup"})


def verdict_matches(
    row: tuple[bool, str | None, str | None],
    want: tuple[bool, str | None, str | None],
    gate_labels: frozenset[str] = frozenset(),
    c4: bool = False,
) -> bool:
    if row == want:
        return True
    keep, excl, clean = row
    if not want[0]:
        return False  # a page the rules drop is never revived

    def same_text(text):
        return text == want[2] or (c4 and _is_line_subsequence(text, want[2]))

    if keep:
        return excl is None and clean is not None and c4 and same_text(clean)
    if excl not in gate_labels:
        return False
    return clean is None or (excl in TEXT_KEEPING_LABELS and same_text(clean))


def golden_mismatches(rows: dict, golden: list[dict], **gates) -> int:
    """rows: url -> (keep, excl_type, clean_text) for every committed
    fixture url. Each golden text that appears first under its url must be
    committed there with the golden label and bytes; later copies of the
    same text are keep-first losers and must be absent."""
    bad, seen = 0, set()
    for rec in golden:
        url = golden_url(rec)
        if rec["raw"] in seen:
            bad += url in rows
            continue
        seen.add(rec["raw"])
        if url not in rows:
            bad += 1
            continue
        want = (True, None, rec["clean"]) if rec["label"] == "keep" else (False, rec["label"], None)
        bad += not verdict_matches(rows[url], want, **gates)
    return bad


def sample_mismatches(rows: list[tuple], text_by_url: dict, **gates) -> int:
    """rows: (url, keep, excl_type, clean_text) of a committed sample."""
    return sum(
        not verdict_matches(tuple(r[1:]), reference_verdict(text_by_url[r[0]]), **gates)
        for r in rows
    )


def conllu_doc_count(out_dir: str) -> int:
    """Documents in a write_conllu output: one '# newdoc id' per doc."""
    n = 0
    for name in os.listdir(out_dir):
        if name.endswith(".txt"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
                n += sum(line.startswith("# newdoc id = ") for line in fh)
    return n
