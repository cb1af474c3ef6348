"""Output checks: warehouse state against the generator's bookkeeping, and
acknowledged API edits against what `user_categories` holds afterwards."""

F1_FLOOR = 0.6


def last_acknowledged(acks, initial=None):
    """{(id, field): value} of the last acknowledgement per key; `acks` are
    (id, field, value) in acknowledgement order. `initial` seeds values the
    rows held before the first edit."""
    last = dict(initial or {})
    for tid, field, value in acks:
        last[(tid, field)] = value
    return last


def unseen_writes(acks, stored):
    """Acknowledged values the table does not hold: [(id, field, expected,
    stored)]. `stored` maps id -> {field: value as text}; a missing row
    stores nothing."""
    bad = []
    for (tid, field), want in sorted(last_acknowledged(acks).items()):
        got = stored.get(tid, {}).get(field)
        if got != want:
            bad.append((tid, field, want, got))
    return bad


def expected_state(book, pull, validated_ids):
    """Row counts the marts must have after the cycle for `pull`, given the
    SimpleFIN ids validated so far (all of them stable, ingested ids)."""
    features = book["simplefin_logical"][pull] + book["historic_rows"]
    validated = book["historic_categorized"] + len(validated_ids)
    return {
        "int_trxns_features": features,
        "fct_trxns_categorized": book["historic_categorized"],
        "fct_validated_trxns": validated,
        "fct_trxns_uncategorized": features - validated,
        "fct_trxns_with_predictions": features - validated,
        "unpredicted": 0,
        "registry_active": 1,
        "registry_latest": 1,
    }


def cycle_failures(book, cycle, validated_ids):
    """Human-readable mismatches of one cycle record (pull 0: set-up)."""
    p = cycle["pull"]
    bad = []
    for k, want in expected_state(book, p, validated_ids).items():
        if cycle["state"][k] != want:
            bad.append(f"pull {p}: {k} = {cycle['state'][k]}, expected {want}")
    if cycle["ingest_rows"] != book["served_rows"][p]:
        bad.append(f"pull {p}: ingested {cycle['ingest_rows']} rows, transport served {book['served_rows'][p]}")
    if cycle["validated"] != len(book["validate_ids"][p]):
        bad.append(f"pull {p}: bulk validation changed {cycle['validated']} rows, "
                   f"expected {len(book['validate_ids'][p])}")
    if cycle["state"]["f1_macro"] < F1_FLOOR:
        bad.append(f"pull {p}: f1_macro {cycle['state']['f1_macro']:.3f} below {F1_FLOOR}")
    return bad
