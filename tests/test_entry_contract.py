def test_gate_order_prioritizes_touched_queries(monkeypatch):
    """Round-10 driver-rotation hygiene: a verified query whose fn source
    or oracle changed since .gate_snapshot.json must sort before
    verified-untouched queries (and after never-verified ones), so the
    driver's 50-slot gate re-hashes this round's edits. Every verified
    query that is neither precisely nor closure-touched sorts after every
    touched one and keeps registration order, so no hard-coded
    front-of-gate set can take slots from the touched queries. Checked on
    the repo's own snapshot and on a fixed one where only the last two
    registered queries are touched, which every other name must follow."""
    import __spark_entry__ as m

    precise, broad = m._touched_queries()
    verified = m._driver_verified()
    registered = list(m.registry.QUERIES)
    order = m._gate_order(registered)
    unverified = [n for n in order if n not in verified]
    rest = [n for n in registered if n in verified and n not in precise | broad]
    # never-verified first, verified-untouched last in registration order,
    # the touched ones in between
    assert order[:len(unverified)] == unverified
    assert order[len(order) - len(rest):] == rest

    monkeypatch.setattr(m, "_driver_verified", lambda: set(registered))
    monkeypatch.setattr(
        m, "_touched_queries", lambda: ({registered[-1]}, {registered[-2]})
    )
    assert m._gate_order(registered) == [
        registered[-1], registered[-2], *registered[:-2]
    ]


def test_gate_snapshot_roundtrip(tmp_path):
    """gate_snapshot's hashes are deterministic and _touched_queries is
    empty against a freshly written snapshot."""
    import json
    import os
    import shutil

    import __spark_entry__ as m
    from tools.gate_snapshot import build_snapshot

    here = os.path.dirname(os.path.abspath(m.__file__))
    snap_path = os.path.join(here, ".gate_snapshot.json")
    backup = None
    if os.path.exists(snap_path):
        backup = snap_path + ".bak_test"
        shutil.copy(snap_path, backup)
    try:
        with open(snap_path, "w") as f:
            json.dump(build_snapshot(), f)
        precise, broad = m._touched_queries()
        assert precise == set()
        assert broad == set()
    finally:
        if backup:
            shutil.move(backup, snap_path)
