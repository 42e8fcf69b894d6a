from lion_parcel_etl_spark.plans.queries import QUERIES

__all__ = ["QUERIES"]
