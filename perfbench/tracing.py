"""Counters the traced run takes at the benchmark's own call boundaries.

- ``Py4jTap`` counts driver-to-JVM commands, the same ``send_command``
  tap ``tools/chatter_count.py`` uses.
- ``LoadTableProbe`` wraps ``dabstract_spark.session.load_table``. Query
  modules import it at call time, so replacing the module attribute
  catches every caller. A call is *reused* when it returns a DataFrame
  object that an earlier call already returned (hot-cache or plan-memo
  hit).

Both install on ``__enter__`` and restore the original on ``__exit__``.
"""

from __future__ import annotations

import time


class Py4jTap:
    def __init__(self):
        self.count = 0
        self._orig = None

    def __enter__(self):
        import py4j.clientserver as cs

        self._cls = cs.ClientServerConnection
        self._orig = self._cls.send_command
        orig, tap = self._orig, self

        def counted(conn, command):
            tap.count += 1
            return orig(conn, command)

        self._cls.send_command = counted
        return self

    def __exit__(self, *exc):
        self._cls.send_command = self._orig


class LoadTableProbe:
    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self.reused = 0
        self.names: set[str] = set()
        self._seen: set[int] = set()
        self._keep: list = []  # keeps returned frames alive so ids stay unique

    def __enter__(self):
        import dabstract_spark.session as session

        self._mod = session
        self._orig = session.load_table
        orig, probe = self._orig, self

        def wrapped(spark, sf_dir, name):
            t0 = time.perf_counter()
            try:
                df = orig(spark, sf_dir, name)
            finally:
                probe.calls += 1
                probe.names.add(name)
                probe.seconds += time.perf_counter() - t0
            if id(df) in probe._seen:
                probe.reused += 1
            else:
                probe._seen.add(id(df))
                probe._keep.append(df)
            return df

        session.load_table = wrapped
        return self

    def __exit__(self, *exc):
        self._mod.load_table = self._orig

    def snapshot(self) -> tuple[int, float, int]:
        return self.calls, self.seconds, self.reused
