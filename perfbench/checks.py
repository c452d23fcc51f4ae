"""Output checks.  Each returns a list of problems (empty = correct);
the workloads count an operation as failed when its check finds any.
Checks run outside every timed region."""

from __future__ import annotations

from gen import CURATE_DEFAULT_RATE, CURATE_RATES, CurateInputs, md5_bucket

#: Planted near-duplicate members that curation must drop, at least.
NEAR_DUP_RECALL_FLOOR = 0.9


def ranked(rows, k: int, ordered: bool = True, tier_key: str | None = None,
           allowed: set[str] | None = None) -> list[str]:
    """At most ``k`` unique ids; scores non-increasing in result order
    (within each tier when ``tier_key`` names one); every id inside
    ``allowed`` when given (tenant scoping)."""
    errs = []
    ids = [str(r["id"]) for r in rows]
    if len(ids) > k:
        errs.append(f"{len(ids)} results > k={k}")
    if len(set(ids)) != len(ids):
        errs.append("duplicate ids")
    if ordered:
        prev = None
        for r in rows:
            key = (r[tier_key] if tier_key else 0, -float(r["score"]))
            if prev is not None and key < prev:
                errs.append("scores not ranked")
                break
            prev = key
    if allowed is not None and not set(ids) <= allowed:
        errs.append("result outside the tenant")
    return errs


def top_answer(rows, doc_id) -> list[str]:
    """``doc_id`` is in the result with the highest score of all."""
    if not rows:
        return [f"doc {doc_id} not found (empty result)"]
    best = max(float(r["score"]) for r in rows)
    hit = [r for r in rows if str(r["id"]) == str(doc_id)]
    if not hit or float(hit[0]["score"]) < best:
        return [f"doc {doc_id} not the top answer"]
    return []


def absent(rows, doc_ids) -> list[str]:
    gone = {str(d) for d in doc_ids}
    found = gone & {str(r["id"]) for r in rows}
    return [f"deleted docs still found: {sorted(found)}"] if found else []


def same_rows(a, b) -> list[str]:
    """A cache hit returns exactly the rows its miss computed."""
    key = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    return [] if sorted(map(key, a)) == sorted(map(key, b)) else ["cache hit != miss"]


def curate_exact(removed: set[int], truth: CurateInputs) -> list[str]:
    if removed != truth.exact_removed:
        return [
            f"exact dedup removed {len(removed)} ids, expected "
            f"{len(truth.exact_removed)} (symmetric diff "
            f"{len(removed ^ truth.exact_removed)})"
        ]
    return []


def curate_near(dropped: set[int], truth: CurateInputs) -> tuple[list[str], float]:
    """Near-dup drops: only planted family members, never a whole family,
    and at least the recall floor of the expected drops.  Returns the
    problems and the recall."""
    errs = []
    members = {i for fam in truth.near_families for i in fam}
    if not dropped <= members:
        errs.append(f"{len(dropped - members)} non-duplicate docs dropped")
    for fam in truth.near_families:
        if set(fam) <= dropped:
            errs.append("a whole near-dup family dropped")
            break
    expected = sum(len(f) - 1 for f in truth.near_families)
    recall = len(dropped & members) / max(1, expected)
    if recall < NEAR_DUP_RECALL_FLOOR:
        errs.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL_FLOOR}")
    return errs, recall


def curate_contaminated(found: set[int], truth: CurateInputs) -> list[str]:
    if found != truth.contaminated:
        return [
            f"decontamination flagged {len(found)} docs, expected "
            f"{len(truth.contaminated)}"
        ]
    return []


def curate_final(rows, dropped: set[int], truth: CurateInputs) -> list[str]:
    """Per-source kept docs and token budget equal a Python replay of
    the filter + stratified sample over the known survivors."""
    gone = truth.exact_removed | dropped | truth.contaminated
    gone |= truth.junk | truth.foreign
    want: dict[str, list[int]] = {}
    for i, src in truth.source.items():
        if i in gone:
            continue
        rate = CURATE_RATES.get(src, CURATE_DEFAULT_RATE)
        if md5_bucket(i) < int(rate * 1000):
            acc = want.setdefault(src, [0, 0])
            acc[0] += 1
            acc[1] += truth.tokens[i]
    got = {r["source"]: [int(r["docs"]), int(r["tokens"])] for r in rows}
    return [] if got == want else [f"final mix {got} != expected {want}"]
