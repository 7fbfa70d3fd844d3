from openstack_billing_from_db_spark.operators.sessionize import (  # noqa: F401
    DEFAULT_TRIGGER_STATES,
    build_state_intervals,
    build_state_intervals_bucketed,
    end_at_deletion,
    map_event_states,
    state_micros_in_window,
    with_synthetic_deletes,
)
from openstack_billing_from_db_spark.operators.asof import as_of_join  # noqa: F401
from openstack_billing_from_db_spark.operators.merge import merge_upsert, scd2_apply  # noqa: F401
