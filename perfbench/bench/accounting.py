"""Output checks and failure accounting."""


def check_calls(calls, expected):
    """Failures among thor call records.

    ``calls`` are the harness's records; ``expected`` maps call name to the
    ``digest`` and ``schema`` (output columns as ``name:type``) of its oracle
    result. A call fails when it raised, when its columns differ from the
    oracle's in name or type, or when its digest differs; a call with no
    expected output fails too, so an unchecked result never counts as
    correct.
    """
    failures = []
    for c in calls:
        want = expected.get(c["name"])
        if c["error"]:
            failures.append((c["name"], c["error"]))
        elif want is None:
            failures.append((c["name"], "no expected output"))
        elif c["schema"] != want["schema"]:
            failures.append((c["name"],
                             f"columns {c['schema']} != {want['schema']}"))
        elif c["digest"] != want["digest"]:
            failures.append((c["name"],
                             f"digest {c['digest']} != {want['digest']}"))
    return failures


def fail_ratio(failed, attempted):
    return failed / attempted if attempted else 1.0
