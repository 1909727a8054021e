SELECT o_orderkey, o_orderstatus, bucket,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS sr_group,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS sr_ties,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS sr_current,
  count(*) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS cr_group,
  avg(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS ar_current
FROM (SELECT o_orderkey, o_orderstatus,
      cast(floor(o_totalprice / 100000) AS bigint) AS bucket FROM orders) t
