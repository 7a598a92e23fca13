"""Output checker: joins a job's (url, text, error) output with the
generator's expected table and counts mismatching documents.

Rules:
- every expected row must come back once with exactly the expected
  ``(text, error)`` pair (``None`` matches only ``None``);
- a row expected to fail with ``unknown-format`` may instead be absent:
  the supported-format prefilter drops it before the kernel;
- an output row with no expected row, or a url returned twice, is a
  mismatch too.
"""

from __future__ import annotations

import pandas as pd

DROPPABLE_ERROR = "unknown-format"


def _norm(v):
    return None if v is None or (isinstance(v, float) and v != v) else v


def compare(output: pd.DataFrame, expected: pd.DataFrame) -> dict:
    """``output`` has columns url, text, error; ``expected`` has url,
    expected_text, expected_error.  Returns attempted/failed counts and up
    to ten example mismatches."""
    dup = output["url"].duplicated(keep=False)
    joined = expected.merge(output[~dup], on="url", how="outer",
                            indicator="where")
    mismatches = []
    for url, want_text, want_err, text, err, where in zip(
            joined["url"], joined["expected_text"], joined["expected_error"],
            joined["text"], joined["error"], joined["where"]):
        want = (_norm(want_text), _norm(want_err))
        got = (_norm(text), _norm(err))
        if where == "right_only":
            ok = False
        elif where == "left_only":
            ok = want[1] == DROPPABLE_ERROR
        else:
            ok = got == want
        if not ok:
            mismatches.append({"url": url, "want": repr(want)[:120],
                               "got": repr(got)[:120], "where": str(where)})
    for url in sorted(set(output.loc[dup, "url"])):
        mismatches.append({"url": url, "want": "one row", "got": "duplicate",
                           "where": "both"})
    return {"attempted": int(len(expected)), "failed": len(mismatches),
            "examples": mismatches[:10]}
