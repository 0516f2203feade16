"""``SyntheticAPIServer``'s concurrency telemetry, without Spark: the
server counts a request as in flight from its arrival until its
response is ready, so one client sending requests one after another
is never counted twice, whatever the response path."""

from http.client import HTTPException
from urllib.error import HTTPError

import pytest

from defi_features_data_pipeline_spark.sources.http_backend import (
    SyntheticAPIServer,
    _post_json,
    fetch_page_http,
)

START = 1_700_000_000 - (1_700_000_000 % 86_400)


def _day(srv, i):
    return fetch_page_http(
        "borrow", START + i * 86_400, START + (i + 1) * 86_400, 0, 10,
        url=srv.url,
    )


def test_sequential_client_peaks_at_one_in_flight():
    with SyntheticAPIServer(per_window=5) as srv:
        for i in range(50):
            assert len(_day(srv, i)) == 5
    assert srv.n_requests == 50
    assert srv.max_in_flight == 1


def test_every_response_path_leaves_nothing_in_flight():
    """Injected 500, unknown path (404) and a handler exception each
    release their request exactly once."""
    with SyntheticAPIServer(fail_first=1, per_window=5) as srv:
        with pytest.raises(HTTPError, match="500"):
            _day(srv, 0)
        assert len(_day(srv, 0)) == 5
        assert srv._in_flight == 0
    with SyntheticAPIServer(per_window=5) as srv:
        with pytest.raises(HTTPError, match="404"):
            _post_json(srv.url, "/nope", {})
        with pytest.raises((HTTPException, OSError)):
            _post_json(srv.url, "/query", {})  # KeyError in the handler
        for i in range(10):
            assert len(_day(srv, i)) == 5
        assert srv._in_flight == 0
    assert srv.max_in_flight == 1
