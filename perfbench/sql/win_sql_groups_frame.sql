SELECT o_orderkey, o_orderstatus, bucket,
count(*) OVER (PARTITION BY o_orderstatus ORDER BY bucket
  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS rows_in_2_groups
FROM (SELECT o_orderkey, o_orderstatus,
      cast(floor(o_totalprice / 100000) AS bigint) AS bucket FROM orders) t
