"""Plan-inspection helpers: machine checks over physical plans."""

from .checks import (  # noqa: F401
    formatted_plan,
    executed_plans,
    assert_single_python_stage,
    assert_filter_pushed,
    assert_broadcast_join,
)
