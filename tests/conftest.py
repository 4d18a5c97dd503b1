import contextlib
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pprl-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@contextlib.contextmanager
def count_jvm_calls():
    """Count the Python -> JVM round trips the block makes: yields a
    one-item list holding the number of py4j commands sent so far. Only
    the calling thread counts; py4j frees dropped Java handles from a
    thread of its own, whenever the Python GC gets to them."""
    caller = threading.current_thread()
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is caller:
            calls[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send
