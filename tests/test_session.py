"""Driver-heap derivation (session.py) — pure-Python, no Spark session.

The SparkSession factory itself is exercised by every other test via the
shared fixture; these pin the memory-sizing policy: half of effective
available memory, where "effective" is MemAvailable capped by the
process's cgroup limit, clamped to at most 16g with a floor that never
exceeds the cgroup budget (a forced 2g heap inside a 1-2 GB cgroup gets
OOM-killed — the failure mode this derivation exists to prevent)."""

import contextlib
from unittest import mock

from lotad_spark import session


GB = 1024 ** 3


class TestDefaultDriverMem:
    def _mem(self, cgroup_bytes, host_available=None):
        """The heap for a cgroup limit. With ``host_available`` the host's
        MemAvailable is mocked too, so the result does not depend on how
        much memory the test machine has free while the suite runs."""
        with contextlib.ExitStack() as stack:
            stack.enter_context(mock.patch.object(
                session, "_cgroup_limit_bytes", return_value=cgroup_bytes
            ))
            if host_available is not None:
                meminfo = mock.mock_open(
                    read_data=f"MemAvailable: {host_available // 1024} kB\n"
                )
                stack.enter_context(
                    mock.patch.object(session, "open", meminfo, create=True)
                )
            return session._default_driver_mem()

    def test_unlimited_box_scales_with_available(self):
        # This CI box has tens of GB available: half, capped at 16g.
        got = self._mem(None)
        assert got.endswith("g")
        assert 2 <= int(got[:-1]) <= 16

    def test_small_cgroup_stays_under_budget(self):
        # 1.5 GB cgroup: the heap must NOT be floored up to 2g past
        # the limit; 1g keeps the JVM inside the cgroup.
        assert self._mem(int(1.5 * GB), host_available=2048 * GB) == "1g"

    def test_mid_cgroup_takes_half(self):
        assert self._mem(4 * GB, host_available=2048 * GB) == "2g"
        assert self._mem(8 * GB, host_available=2048 * GB) == "4g"

    def test_huge_cgroup_clamps_at_16g(self):
        assert self._mem(1024 * GB, host_available=2048 * GB) == "16g"

    def test_host_available_caps_the_cgroup(self):
        # A cgroup bigger than what the host has free: MemAvailable binds.
        assert self._mem(8 * GB, host_available=6 * GB) == "3g"

    def test_unlimited_sentinels_ignored(self):
        # cgroup files report ~2^63 when unlimited; the resolver must
        # treat that as "no limit", not a real budget.
        assert session._read_int_file("/dev/null") is None
        limit = session._cgroup_limit_bytes()
        assert limit is None or limit < 1 << 60
