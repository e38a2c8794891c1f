"""PFAS status/source merge lattice — pure-Python, shared by the Spark
per-cluster fold (applyInPandas) and the pytest oracle so both sides run
the identical semantics.

Reproduces reference behavior exactly:
- transition map: artifact_ingestor_service.py:1207-1235 (16 entries; the
  'OECD_MANUAL' and 'MANUAL_OECD' cells are None => error
  TRANSITION_FROM_0_TO_1_IS_NOT_POSSIBLE, :1244-1249). Keys absent from the
  map (any pair involving VAI or ECHA as stored/new source) also yield None
  => error, because dict.get() returns None for missing keys (:1235-1241).
- status rule: status is replaced by the new observation's status only for
  the 7 enumerated (existing_source, new_source) pairs
  (artifact_ingestor_service.py:1171-1205); otherwise kept.
- tag decode: PFAS->YES, NO_PFAS->NO, else PENDING (:881-887).
"""

from __future__ import annotations

YES, NO, PENDING = "YES", "NO", "PENDING"
MANUAL, VAI, OECD, NONE = "MANUAL", "VAI", "OECD", "NONE"

# reference: artifact_ingestor_service.py:1207-1235
TRANSITION_MAP: dict[str, str | None] = {
    "OPENAI_OPENAI": VAI,
    "MANUAL_OPENAI": MANUAL,
    "OECD_OPENAI": OECD,
    "NONE_OPENAI": VAI,
    "OPENAI_MANUAL": MANUAL,
    "MANUAL_MANUAL": MANUAL,
    "OECD_MANUAL": None,  # not possible
    "NONE_MANUAL": MANUAL,
    "OPENAI_OECD": OECD,
    "MANUAL_OECD": None,  # not possible
    "OECD_OECD": OECD,
    "NONE_OECD": OECD,
    "OPENAI_NONE": VAI,
    "MANUAL_NONE": MANUAL,
    "OECD_NONE": OECD,
    "NONE_NONE": NONE,
}

# reference: artifact_ingestor_service.py:1171-1205 — pairs for which the
# NEW status wins; every other pair keeps the existing status.
_STATUS_REPLACING_PAIRS = {
    (OECD, VAI),
    (VAI, VAI),
    (NONE, VAI),
    (VAI, MANUAL),
    (NONE, MANUAL),
    (VAI, OECD),
    (NONE, OECD),
}


class TransitionError(ValueError):
    """reference: CommonException('TRANSITION_FROM_0_TO_1_IS_NOT_POSSIBLE')."""


def status_from_tag(tag: str | None) -> str:
    """F11 tag->status decode (PFAS/NO_PFAS/else->PENDING) — the Python
    reference copy of the fold's inlined JVM expression."""
    # reference: artifact_ingestor_service.py:881-887
    if tag == "PFAS":
        return YES
    if tag == "NO_PFAS":
        return NO
    return PENDING


def merge_source(existing_source: str, new_source: str) -> str:
    """F12 source-lattice transition: the 16-cell TRANSITION_MAP lookup
    with identity fallback."""
    # reference: determine_final_source, artifact_ingestor_service.py:1235-1241
    final = TRANSITION_MAP.get(f"{existing_source}_{new_source}")
    if final is None:
        raise TransitionError(
            f"TRANSITION_FROM_{existing_source}_TO_{new_source}_IS_NOT_POSSIBLE"
        )
    return final


def merge_status(
    existing_source: str, new_source: str, existing_status: str, new_status: str
) -> str:
    """F12 status merge under the source lattice: REPLACING pairs take the
    new status, ERROR cells raise, everything else keeps the existing."""
    # reference: determine_final_status, artifact_ingestor_service.py:1171-1205
    if (existing_source, new_source) in _STATUS_REPLACING_PAIRS:
        return new_status
    return existing_status


def fold_observation(
    state: tuple[str, str] | None, tag: str | None, source: str | None
) -> tuple[str, str]:
    """Advance node (status, source) by one observation.

    state=None => node creation (artifact_ingestor_service.py:1063-1076):
    status from tag, source from the observation. Otherwise the merge path
    (:1079-1083 -> :1237-1257): source transition first (may raise), then
    status rule evaluated against the PRE-transition stored source.
    """
    src = source if source is not None else NONE
    if state is None:
        return (status_from_tag(tag), src)
    existing_status, existing_source = state
    final_source = merge_source(existing_source, src)  # raises on bad cell
    final_status = merge_status(
        existing_source, src, existing_status, status_from_tag(tag)
    )
    return (final_status, final_source)


# ---- material-level fold (A3/A4) -------------------------------------------

# reference: get_parent_pfas_resolution, artifact_ingestor_service.py:819-879
_PREF_WHEN_PENDING = [OECD, VAI, MANUAL]
_PREF_OTHERWISE = [VAI, OECD, MANUAL]


def resolve_material(children: list[tuple[str, str]]) -> tuple[str, str]:
    """children = [(pfas_status, pfas_information_source)] of the material's
    chemicals; returns (material_status, material_source).

    Status: YES if any child YES; NO if no child YES and none PENDING;
    else PENDING (:827-845). Source: first source in the status-dependent
    preference order having count>0 among children whose status equals the
    resolved status (:846-879); NONE when no preferred source occurs.
    """
    statuses = [s for s, _ in children]
    if YES in statuses:
        status = YES
    elif PENDING not in statuses:
        status = NO
    else:
        status = PENDING

    prefs = _PREF_WHEN_PENDING if status == PENDING else _PREF_OTHERWISE
    counts: dict[str, int] = {}
    for s, src in children:
        if s == status:
            counts[src] = counts.get(src, 0) + 1
    source = NONE
    for p in prefs:
        if counts.get(p, 0) > 0:
            source = p
            break
    return (status, source)
