SELECT o_orderkey, o_orderstatus, bucket,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS sum_excl_group,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS sum_excl_ties,
  sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS sum_excl_current
FROM (SELECT o_orderkey, o_orderstatus,
      cast(floor(o_totalprice / 100000) AS bigint) AS bucket FROM orders) t
