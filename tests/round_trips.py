"""Count the py4j round trips that driver-side code makes."""

from __future__ import annotations

import threading


def calling_thread_round_trips(fn):
    """Run ``fn()``; return its result and the number of py4j commands sent
    from the calling thread while it ran.

    Only the calling thread's commands count: py4j releases garbage-collected
    Java references ("m d" commands) from a background thread at arbitrary
    moments, adding hundreds of calls the code under test did not make.
    """
    import py4j.clientserver as cs

    orig = cs.ClientServerConnection.send_command
    calls = [0]
    caller = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == caller:
            calls[0] += 1
        return orig(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        cs.ClientServerConnection.send_command = orig
    assert calls[0] > 0  # the patched method is the one py4j calls
    return out, calls[0]
