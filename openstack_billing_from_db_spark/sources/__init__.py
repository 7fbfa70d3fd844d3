from openstack_billing_from_db_spark.sources.tables import load_table, load_tables, register_views  # noqa: F401
from openstack_billing_from_db_spark.sources.rates import default_rates, rates_df  # noqa: F401
